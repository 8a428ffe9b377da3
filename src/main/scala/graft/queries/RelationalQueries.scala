package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Normalize, Skew}
import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** Relational parity operators over the TPC-H tables (SURVEY §2.3-2.8)
  * — filters, joins, set operations, windows and grouping sets — plus the
  * exact and sketched order statistics over `lineitem` prices. */
object RelationalQueries extends QueryFamily("relational") {

  // A5/W1-adjacent headline aggregation (TPC-H Q1 shape)
  query("q1_pricing_summary")((s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }) {
    """SELECT l_returnflag, l_linestatus,
      | cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_qty,
      | cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_base_price,
      | cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_disc_price,
      | count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin
  }

  // P1/P6/P7 projection + predicate (pushed to the parquet scan)
  query("q_filter_project")((s, dir) => {
    t(s, dir, "lineitem")
      .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }) {
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'"
  }

  // F8/P6 timestamp-range predicate (partition/rowgroup pruning shape)
  query("q_date_filter")((s, dir) => {
    t(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
  }) {
    """SELECT o_orderpriority, count(*) AS n FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY o_orderpriority""".stripMargin
  }

  // F2/F3 split + array-join (List[Utf8] flatten path)
  query("q_array_join")((s, dir) => {
    val parts = t(s, dir, "customer")
      .select(col("c_custkey"), split(col("c_name"), " ").as("parts"))
    Normalize.joinStringArrays(parts).select(col("c_custkey"), col("parts"))
  }) {
    "SELECT c_custkey, array_to_string(string_split(c_name, ' '), '|') AS parts FROM customer"
  }

  // F3/F4 split + explode + aggregate
  query("q_split_explode")((s, dir) => {
    t(s, dir, "part")
      .select(explode(split(col("p_type"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
  }) {
    """SELECT word, count(*) AS n FROM
      | (SELECT unnest(string_split(p_type, ' ')) AS word FROM part) GROUP BY word""".stripMargin
  }

  // A1 dedup-on-key with deterministic (min-id) representative
  query("q_dedup_keyed")((s, dir) => {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderkey")).as("first_order"), count(lit(1)).as("n_orders"))
  }) {
    "SELECT o_custkey, min(o_orderkey) AS first_order, count(*) AS n_orders FROM orders GROUP BY o_custkey"
  }

  // U2 distinct projection
  query("q_distinct")((s, dir) => {
    t(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment")).distinct()
  }) {
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"
  }

  // A5 hierarchical aggregation (rollup: per-group, subtotal, grand total)
  query("q_rollup")((s, dir) => {
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }) {
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin
  }

  // A5 full grouping-sets lattice (cube: group, both subtotals, total)
  query("q_cube")((s, dir) => {
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }) {
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin
  }

  // exact percentiles (sort-based aggregate, linear interpolation).
  // Interpolated quantiles are rounded to 6 dp before emission: the raw
  // doubles agree with quantile_cont only up to summation/interpolation
  // ULPs, and a hash match must not hinge on bit-identical interpolation
  query("q_percentile")((s, dir) => {
    // histogram pushdown, per column: the quantity cuts fold the fact
    // rows to a (flag, quantity, cnt) table first (l_quantity has 50
    // distinct values — the reduce-side buffer holds 50 weighted
    // entries instead of every row), the price median rides the SAME
    // staged value-count frame as q_winsorize/q_mad_outliers; both use
    // percentile's frequency argument, which replays the multiset
    // exactly. One shared value buffer for both l_quantity cuts (the
    // q_winsorize array-fold rationale); the final join is 3×3 rows.
    val dq = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.5D, 0.9D), cnt)").as("qpc"))
    val dp = stagedPriceCounts(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_extendedprice, 0.5D, cnt)"), 6).as("price_p50"))
    dq.join(dp, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("qpc").getItem(0), 6).as("p50"),
        round(col("qpc").getItem(1), 6).as("p90"),
        col("price_p50"))
  }) {
    """SELECT l_returnflag,
      | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      | round(quantile_cont(l_quantity, 0.9), 6) AS p90,
      | round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
  }

  // robust-stats winsorization: per-group p05/p95 caps (exact percentile
  // — quantile_cont parity like q_percentile; approx_percentile is the
  // continuous-domain scale path), broadcast back onto the fact table,
  // heavy tail clipped before the money sum. The "cap outliers before
  // aggregating" curation step; caps are a tiny per-group frame so the
  // clip pass is a broadcast join, never a fact-table shuffle.
  query("q_winsorize")((s, dir) => {
    // caps rounded to 6 dp BEFORE the clip: every downstream comparison
    // then runs on decimals both engines reconstruct identically, instead
    // of leaning on bit-identical quantile interpolation (a latent ULP
    // flake at clip boundaries otherwise).
    // ONE percentile(…, array(0.05, 0.95), cnt) call over the staged
    // value-count frame: two scalar percentile aggregates each buffer
    // the group's full value multiset — the array form shares one
    // buffer, the frequency argument feeds it the collapsed histogram,
    // and the clip pass is the SAME tiny frame re-read with the caps
    // broadcast on (integer-cents × cnt keeps the money sums
    // order-independent and bit-identical to the row form)
    val d = stagedPriceCounts(s, dir)
    val caps = d.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.05D, 0.95D), cnt)").as("pc"))
      .select(col("l_returnflag"),
        round(col("pc").getItem(0), 6).as("lo"),
        round(col("pc").getItem(1), 6).as("hi"))
    d.join(broadcast(caps), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("cnt"),
        greatest(col("lo"), least(col("hi"), col("l_extendedprice"))).as("clipped"),
        col("l_extendedprice"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"),
           (sum(cents(col("clipped")) * col("cnt")).cast("double")
             / lit(100.0d)).as("clipped_sum"),
           (sum(cents(col("l_extendedprice")) * col("cnt")).cast("double")
             / lit(100.0d)).as("raw_sum"))
  }) {
    """WITH caps AS (
      |  SELECT l_returnflag,
      |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
      |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, count(*) AS n,
      |  cast(sum(cast(floor(greatest(lo, least(hi, l_extendedprice)) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS clipped_sum,
      |  cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS raw_sum
      |FROM lineitem JOIN caps USING (l_returnflag)
      |GROUP BY l_returnflag""".stripMargin
  }

  // skew-mitigated join: the fact side is salted into (key, salt) and
  // the dimension replicated per salt — the ORACLE is the PLAIN join, so
  // the hash match proves salting is semantics-preserving, row for row
  query("q_salted_join")((s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    Skew.saltedJoin(orders, cust, "o_custkey", saltFactor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
  }) {
    """SELECT c_mktsegment, count(*) AS n,
      |  cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin
  }

  // robust outlier detection: median ± 3·MAD per group (the
  // outlier-resistant z-score — one extreme row cannot drag the gate the
  // way it drags a mean/stddev gate). Exact two-level percentile for
  // quantile_cont parity; both tiny stat frames broadcast back, the fact
  // table is never shuffled. Scale path: approx_percentile, like
  // q_winsorize.
  query("q_mad_outliers")((s, dir) => {
    // med/mad rounded to 6 dp before the gate AND the output: the ±3·MAD
    // comparison and the emitted stats then run on decimals both engines
    // reconstruct identically (same ULP rationale as q_winsorize's caps).
    // All three stages (median, deviation median, outlier audit) are
    // weighted statistics over the SAME staged value-count frame — one
    // lineitem scan ever (paid by the staging), where the row form
    // re-scanned the fact table per stage
    val d = stagedPriceCounts(s, dir)
    val med = d.groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_extendedprice, 0.5D, cnt)"), 6).as("med"))
    val dev = d.join(broadcast(med), Seq("l_returnflag"))
      .withColumn("absdev", abs(col("l_extendedprice") - col("med")))
    val caps = dev.groupBy(col("l_returnflag"))
      .agg(min(col("med")).as("med"),
           round(expr("percentile(absdev, 0.5D, cnt)"), 6).as("mad"))
    d.join(broadcast(caps), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(abs(col("l_extendedprice") - col("med")) > lit(3.0) * col("mad"),
          col("cnt")).otherwise(lit(0L))).as("n_outliers"),
        min(col("med")).as("med"), min(col("mad")).as("mad"))
  }) {
    """WITH med AS (
      |  SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS med
      |  FROM lineitem GROUP BY l_returnflag),
      | dev AS (
      |  SELECT l.l_returnflag, l_extendedprice, med.med AS med,
      |    abs(l_extendedprice - med.med) AS absdev
      |  FROM lineitem l JOIN med USING (l_returnflag)),
      | caps AS (
      |  SELECT l_returnflag, min(med) AS med, round(quantile_cont(absdev, 0.5), 6) AS mad
      |  FROM dev GROUP BY l_returnflag)
      |SELECT l.l_returnflag, count(*) AS n,
      |  cast(sum(CASE WHEN abs(l_extendedprice - c.med) > 3.0 * c.mad THEN 1 ELSE 0 END) AS bigint) AS n_outliers,
      |  min(c.med) AS med, min(c.mad) AS mad
      |FROM lineitem l JOIN caps c USING (l_returnflag)
      |GROUP BY l.l_returnflag""".stripMargin
  }

  // the SCALE twins of q_winsorize / q_mad_outliers: identical
  // broadcast-clip plans, but the caps come from approx_percentile's
  // bounded sketch (rank error ≤ 1/accuracy) instead of the exact
  // sort-based percentile whose buffer holds every distinct value per
  // group — on a CONTINUOUS column at 100 TB that buffer is the whole
  // column, the sketch stays O(accuracy). Sketch output is
  // engine-specific (no quantile_cont parity possible), so instead of
  // the raw caps the query emits the ORACLE-DECIDABLE contract: the
  // exact per-group aggregates (which DuckDB recomputes) plus one
  // [[sketchRankOk]] boolean per cap — the sketch value's exact rank
  // sat within the published eps*n bound. The clipped output itself is
  // value-checked by the exact twin; this twin value-checks the SKETCH.
  query("q_winsorize_approx")((s, dir) => {
    val li = t(s, dir, "lineitem")
    val caps = li.groupBy(col("l_returnflag"))
      .agg(expr(s"approx_percentile(l_extendedprice, 0.05, $PctSketchAccuracy)").as("lo"),
           expr(s"approx_percentile(l_extendedprice, 0.95, $PctSketchAccuracy)").as("hi"))
    li.join(broadcast(caps), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           dsum(col("l_extendedprice")).as("raw_sum"),
           sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("__blo"),
           sum(when(col("l_extendedprice") <= col("lo"), 1L).otherwise(0L)).as("__elo"),
           sum(when(col("l_extendedprice") < col("hi"), 1L).otherwise(0L)).as("__bhi"),
           sum(when(col("l_extendedprice") <= col("hi"), 1L).otherwise(0L)).as("__ehi"))
      .select(col("l_returnflag"), col("n"), col("raw_sum"),
        sketchRankOk(col("__blo"), col("__elo"), col("n"), 0.05).as("lo_within_bound"),
        sketchRankOk(col("__bhi"), col("__ehi"), col("n"), 0.95).as("hi_within_bound"))
  }) {
    // the sketch caps are engine-local; the oracle checks the EXACT side
    // and asserts the rank-error booleans Spark computed are TRUE
    """SELECT l_returnflag, count(*) AS n,
      |  cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS raw_sum,
      |  TRUE AS lo_within_bound, TRUE AS hi_within_bound
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
  }

  query("q_mad_outliers_approx")((s, dir) => {
    val li = t(s, dir, "lineitem")
    val med = li.groupBy(col("l_returnflag"))
      .agg(expr(s"approx_percentile(l_extendedprice, 0.5, $PctSketchAccuracy)").as("med"))
    val dev = li.join(broadcast(med), Seq("l_returnflag"))
      .withColumn("absdev", abs(col("l_extendedprice") - col("med")))
    val caps = dev.groupBy(col("l_returnflag"))
      .agg(min(col("med")).as("med"),
           expr(s"approx_percentile(absdev, 0.5, $PctSketchAccuracy)").as("mad"))
    // the MAD audit runs within the absdev distribution the sketch med
    // induces — self-consistent by construction, so the oracle never
    // needs either sketch value
    li.join(broadcast(caps), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("med"), 1L).otherwise(0L)).as("__bm"),
        sum(when(col("l_extendedprice") <= col("med"), 1L).otherwise(0L)).as("__em"),
        sum(when(abs(col("l_extendedprice") - col("med")) < col("mad"), 1L)
          .otherwise(0L)).as("__bd"),
        sum(when(abs(col("l_extendedprice") - col("med")) <= col("mad"), 1L)
          .otherwise(0L)).as("__ed"))
      .select(col("l_returnflag"), col("n"),
        sketchRankOk(col("__bm"), col("__em"), col("n"), 0.5).as("med_within_bound"),
        sketchRankOk(col("__bd"), col("__ed"), col("n"), 0.5).as("mad_within_bound"))
  }) {
    // both sketch values are engine-local; the oracle asserts the
    // rank-error booleans Spark computed are TRUE (see sketchRankOk)
    """SELECT l_returnflag, count(*) AS n,
      |  TRUE AS med_within_bound, TRUE AS mad_within_bound
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
  }

  // event-time sliding frame: per-flag daily revenue with a 7-day moving
  // sum (RANGE frame over days; window partitioned by flag — no global
  // single-partition sort)
  query("q_moving_sum")((s, dir) => {
    val daily = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(unix_date(col("day").cast("date")))
      .rangeBetween(-6, 0)
    daily
      .withColumn("mov7_rev", (sum(col("rev_c")).over(w)).cast("double") / lit(100.0d))
      .select(col("l_returnflag"), col("day"), col("mov7_rev"))
  }) {
    """WITH daily AS (
      |  SELECT l_returnflag, date_trunc('day', l_shipdate) AS day,
      |    sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS rev_c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, day,
      |  cast(sum(rev_c) OVER (PARTITION BY l_returnflag ORDER BY day
      |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS double) / 100.0 AS mov7_rev
      |FROM daily""".stripMargin
  }

  // A5 distinct aggregation (exact; the approx/HLL variant is
  // approx_count_distinct over the same plan shape)
  query("q_count_distinct")((s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
  }) {
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
  }

  // A5 sketch aggregation: HyperLogLog++ approximate distinct counts.
  // Sketch estimates are engine-specific (DuckDB's HLL yields different
  // numbers), so the query emits the ORACLE-DECIDABLE contract instead
  // of the raw estimate: the exact count (which DuckDB recomputes) plus
  // `within_bound` — the estimate sat within 3 standard deviations
  // (3 x rsd 0.02 = 6%) of the exact count. The estimate is still
  // computed by the sketch in the same pass; only the boolean escapes,
  // so a broken sketch flips the hash. The production path at 100 TB is
  // the sketch alone — the exact side here is the verification harness
  // (same posture as q_winsorize_approx's rank-error audit).
  query("q_approx_distinct")((s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("__approx"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("__approx") - col("exact_parts")).cast("double") <=
          lit(0.06d) * col("exact_parts").cast("double")).as("within_bound"))
  }) {
    // the HLL estimate is engine-local; the oracle recomputes the exact
    // count and asserts the 3-sigma bound boolean Spark computed is TRUE
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      | TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag""".stripMargin
  }

  // A5 explicit GROUPING SETS (the general lattice rollup/cube specialize)
  query("q_grouping_sets")((s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |""".stripMargin)
  }) {
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin
  }

  // ordered string aggregation per group (deterministic listagg)
  query("q_string_agg")((s, dir) => {
    t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
  }) {
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation GROUP BY n_regionkey""".stripMargin
  }

  // date-part extraction + aggregate
  query("q_date_parts")((s, dir) => {
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
  }) {
    """SELECT cast(year(o_orderdate) AS int) AS y, cast(month(o_orderdate) AS int) AS m,
      | count(*) AS n,
      | cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS total
      |FROM orders GROUP BY 1, 2""".stripMargin
  }

  // HAVING-style post-aggregation filter
  query("q_having")((s, dir) => {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .where(col("n_orders") >= 12)
  }) {
    """SELECT o_custkey, count(*) AS n_orders,
      | cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS total_spent
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 12""".stripMargin
  }

  // correlated scalar subquery — Catalyst decorrelates it into one
  // aggregate + join (RewriteCorrelatedScalarSubquery), so the per-row
  // "compare to my group's average" never becomes a nested loop; the
  // average is the exact cents-sum idiom so both engines gate on
  // bit-identical doubles
  query("q_scalar_subquery")((s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("graft_orders_ssq")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_orders_ssq o
        |WHERE o_totalprice > 1.5e0 * (
        |  SELECT cast(sum(cast(floor(o2.o_totalprice * 100.0 + 0.5) AS bigint)) AS double)
        |         / (100.0 * count(*))
        |  FROM graft_orders_ssq o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }) {
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5e0 * (
      |  SELECT cast(sum(cast(floor(o2.o_totalprice * 100.0 + 0.5) AS bigint)) AS double)
      |         / (100.0 * count(*))
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin
  }

  // U1 vertical concat (unionByName) + aggregate
  query("q_union")((s, dir) => {
    val c = t(s, dir, "customer").select(col("c_name").as("name"))
    val su = t(s, dir, "supplier").select(col("s_name").as("name"))
    c.unionByName(su)
      .groupBy(substring(col("name"), 1, 4).as("prefix"))
      .agg(count(lit(1)).as("n"))
  }) {
    """SELECT substring(name, 1, 4) AS prefix, count(*) AS n FROM
      | (SELECT c_name AS name FROM customer UNION ALL SELECT s_name AS name FROM supplier)
      |GROUP BY 1""".stripMargin
  }

  // J4 `match` strategy = endpoint existence (semi-join)
  query("q_semi_join")((s, dir) => {
    val orders = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    t(s, dir, "customer").join(orders, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }) {
    "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
  }

  // J4 complement: endpoints with no match (anti-join / BlankNode source).
  // The anti side is the URGENT-order subset so the result is non-empty on
  // this testdata (every customer has SOME order) — a 0-row anti-join would
  // hash-match the oracle trivially and prove nothing.
  query("q_anti_join")((s, dir) => {
    val urgent = t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    t(s, dir, "customer").join(urgent, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }) {
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"
  }

  // J-family: full outer join (both unmatched sides survive)
  query("q_full_outer")((s, dir) => {
    val buyers = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("spent"))
      .where(col("spent") > 400000.0)
    val builders = t(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    builders.join(buyers, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_custkey"), col("spent"))
  }) {
    """WITH buyers AS (
      |  SELECT o_custkey,
      |    cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS spent
      |  FROM orders GROUP BY o_custkey
      |  HAVING cast(sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS double) / 100.0 > 400000.0),
      | builders AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT c_custkey, c_name, o_custkey, spent
      |FROM builders FULL OUTER JOIN buyers ON c_custkey = o_custkey""".stripMargin
  }

  // U2 set intersection (distinct semantics)
  query("q_intersect")((s, dir) => {
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
  }) {
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin
  }

  // U2 set difference (distinct semantics). Both sides are priority slices
  // of the same table so the difference is non-empty on this testdata
  // (customer-vs-supplier nation keys fully overlap → 0 rows → a
  // trivially-true hash match).
  query("q_except")((s, dir) => {
    val orders = t(s, dir, "orders")
    orders.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
      .except(orders.where(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey").as("custkey")))
  }) {
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin
  }

  // W2 ranked window top-k with id tie-break
  query("q_topk_window")((s, dir) => {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }) {
    """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM
      | (SELECT c_mktsegment, o_orderkey, o_totalprice,
      |   row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 5""".stripMargin
  }

  // W2 rank-family comparison: rank (with gaps) vs dense_rank over ties
  query("q_rank_dense")((s, dir) => {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .where(col("drnk") <= 3)
      .groupBy(col("l_returnflag"), col("l_quantity"), col("rnk"), col("drnk"))
      .agg(count(lit(1)).as("n"))
  }) {
    """SELECT l_returnflag, l_quantity, rnk, drnk, count(*) AS n FROM (
      |  SELECT l_returnflag, l_quantity,
      |    rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk,
      |    dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drnk
      |  FROM lineitem)
      |WHERE drnk <= 3 GROUP BY l_returnflag, l_quantity, rnk, drnk""".stripMargin
  }

  // W2 relative-position windows: percent_rank ((rank−1)/(n−1)) and
  // cume_dist (n_≤/n) are integer/integer IEEE divisions — bit-identical
  // across engines, no rounding needed; custkey tie-break makes ranks
  // deterministic under equal balances
  query("q_percent_rank")((s, dir) => {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
  }) {
    """SELECT c_custkey, c_nationkey,
      | percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS pr,
      | cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS cd
      |FROM customer""".stripMargin
  }

  // multi-join aggregation (lineitem ⋈ supplier ⋈ nation)
  query("q_join_agg")((s, dir) => {
    t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }) {
    """SELECT n_name,
      | cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS revenue,
      | count(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin
  }

  // TPC-H Q3 shape: selective dim filter + fact join + grouped revenue +
  // deterministic top-10 (rounded-cents revenue, orderkey tie-break)
  query("q3_shipping")((s, dir) => {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val l = t(s, dir, "lineitem")
      .where(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }) {
    """SELECT l_orderkey, o_orderdate,
      | cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
  }

  // key-distribution diagnostic for a prospective join/shuffle key —
  // the decide-between-plain/AQE/salting number (one count-per-key
  // shuffle, single-row reduce)
  query("q_skew_profile")((s, dir) => {
    Skew.keySkewProfile(t(s, dir, "lineitem"), "l_partkey")
  }) {
    // per-key counts, then one-row stats; ⌈a/b⌉ as pure integer
    // arithmetic, share as one int/int IEEE division
    """WITH c AS (SELECT l_partkey, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1)
      |SELECT cast(sum(cnt) AS bigint) AS n_rows, count(*)::BIGINT AS n_keys,
      |  max(cnt) AS max_cnt,
      |  cast(max(cnt) AS double) / cast(sum(cnt) AS double) AS top1_share,
      |  round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
      |  round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
      |  cast((max(cnt) * count(*) + cast(sum(cnt) AS bigint) - 1)
      |       // cast(sum(cnt) AS bigint) AS bigint) AS suggested_salt
      |FROM c""".stripMargin
  }

  // snowflake dimension chain (customer -> nation -> region), broadcast dims
  query("q_snowflake_join")((s, dir) => {
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
  }) {
    """SELECT r_name, count(*) AS n_customers,
      | cast(sum(cast(floor(c_acctbal * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin
  }

  // exact equi-depth histogram boundaries (the ANALYZE histogram a
  // cost-based optimizer loads): bucket i's upper bound = the value at
  // global sorted position n·i/k, via the distributed exact rank (range
  // exchange + partitioned window + broadcast offsets — no global sort,
  // no single reducer). The emitted VALUE at a position is tie-
  // invariant, so ranking on the value alone is safe here even though
  // tied ranks themselves are placement-dependent. Money as cents
  query("q_equidepth_hist")((s, dir) => {
    import s.implicits._
    val k = 8
    val vals = t(s, dir, "lineitem")
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val (ranked, n) = graft.operators.GlobalRank.withGlobalRankAndCount(
      vals, Seq(col("cents")), "r")
    // fewer rows than buckets would silently drop boundary positions
    // (n·i/k−1 repeats or goes negative) — fail loudly instead
    require(n >= k, s"q_equidepth_hist: $n rows < $k buckets")
    val posDf = (1 to k).map(i => (n * i / k - 1, i.toLong)).toDF("r", "bucket")
    ranked.join(broadcast(posDf), "r")
      .select(col("bucket"), col("cents").as("upper_cents"))
  }) {
    // same positions out of one (windowed) global order — the value at a
    // sorted position is tie-invariant, so the two engines' different
    // tie placements cannot disagree
    """WITH v AS (
      |  SELECT cast(floor(l_extendedprice * 100 + 0.5) AS bigint) AS cents
      |  FROM lineitem),
      | r AS (SELECT cents, row_number() OVER (ORDER BY cents) - 1 AS r FROM v),
      | n AS (SELECT count(*) AS n FROM v),
      | pos AS (
      |  SELECT g.i AS bucket, (n.n * g.i) // 8 - 1 AS p
      |  FROM generate_series(1, 8) g(i), n)
      |SELECT pos.bucket::BIGINT AS bucket, r.cents AS upper_cents
      |FROM pos JOIN r ON r.r = pos.p""".stripMargin
  }

  // incremental EXACT median: the holistic counterpart q_incremental_agg
  // (algebraic) and q_incremental_distinct (sketch) leave open — a
  // per-(key, value) count table is a MERGEABLE state for any rank
  // statistic when the domain is discrete (l_quantity: 50 values), so
  // history is scanned once ever and the median recomputes exactly from
  // merged state rows. Oracle = quantile_cont over the FULL table:
  // merge(history, delta) == recompute, bit-for-bit
  query("q_incremental_median")((s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
        col("l_orderkey"))
    val history = li.where(col("l_orderkey") % 10 =!= 0)
    val delta = li.where(col("l_orderkey") % 10 === 0)
    val merged = graft.operators.Incremental.mergeStates(
      Seq(graft.operators.Incremental.valueCountState(history, Seq("l_returnflag"), "qty"),
        graft.operators.Incremental.valueCountState(delta, Seq("l_returnflag"), "qty")),
      Seq("l_returnflag", "qty"), Seq("cnt" -> "sum"))
    graft.operators.Incremental.quantileFromCounts(merged, Seq("l_returnflag"), "qty", 0.5)
      .select(col("l_returnflag"), col("quantile").as("median_qty"))
  }) {
    // the oracle recomputes from the FULL table — a hash match proves
    // merge(history_state, delta_state) == recompute(history ∪ delta)
    """SELECT l_returnflag,
      |  quantile_cont(cast(l_quantity AS bigint), 0.5) AS median_qty
      |FROM lineitem GROUP BY 1""".stripMargin
  }

  // deterministic negative sampling for contrastive training pairs,
  // BOUNDED end to end: each anchor customer draws from ONE
  // pseudo-random residue class of the item catalog (bucket equi-join —
  // anchor bucket by portable md5, part bucket by partkey % 40 — so
  // candidate volume is grid/40 WITHOUT ever evaluating a hash on the
  // full anchors × items grid), purchased pairs are anti-joined away,
  // and a per-anchor top-k on a cheap integer mix hash caps the output
  // at k negatives per anchor — the real training-data contract
  // (k negatives per positive), which keeps output ∝ anchors no matter
  // how large the catalog grows. WindowGroupLimit prunes the rank
  // before any shuffle
  query("q_negative_sample")((s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val anchors = t(s, dir, "customer")
      .where(col("c_custkey") % 100 === 0).select(col("c_custkey"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("c_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(40L)))
    val parts = t(s, dir, "part")
      .select(col("p_partkey"), pmod(col("p_partkey"), lit(40L)).as("bucket"))
    val cand = parts.join(broadcast(anchors), "bucket")
    val bought = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
    val neg = cand.join(bought,
      cand("c_custkey") === bought("o_custkey") &&
        cand("p_partkey") === bought("l_partkey"), "left_anti")
    // deterministic pseudo-random order per anchor: integer mix both
    // engines compute exactly (values < 2^40, no overflow)
    val mix = pmod(col("c_custkey") * lit(2654435761L) +
      col("p_partkey") * lit(40503L), lit(1000003L))
    val ranked = neg.withColumn("rn", row_number().over(
      Window.partitionBy(col("c_custkey")).orderBy(mix, col("p_partkey"))))
      .where(col("rn") <= 50)
    ranked.groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_negatives"),
        min(col("p_partkey")).as("min_part"), max(col("p_partkey")).as("max_part"),
        bit_xor(col("p_partkey")).as("part_fp"))
  }) {
    """WITH anchors AS (
      |  SELECT c_custkey,
      |    cast(('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::UBIGINT AS BIGINT) % 40
      |      AS bucket
      |  FROM customer WHERE c_custkey % 100 = 0),
      | cand AS (
      |  SELECT a.c_custkey, p.p_partkey
      |  FROM anchors a JOIN part p ON p.p_partkey % 40 = a.bucket),
      | bought AS (
      |  SELECT DISTINCT o_custkey, l_partkey
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      | neg AS (
      |  SELECT c.c_custkey, c.p_partkey FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM bought b
      |    WHERE b.o_custkey = c.c_custkey AND b.l_partkey = c.p_partkey)),
      | ranked AS (
      |  SELECT c_custkey, p_partkey FROM neg
      |  QUALIFY row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY (c_custkey * 2654435761 + p_partkey * 40503) % 1000003, p_partkey)
      |    <= 50)
      |SELECT c_custkey, count(*)::BIGINT AS n_negatives,
      |  min(p_partkey) AS min_part, max(p_partkey) AS max_part,
      |  bit_xor(p_partkey) AS part_fp
      |FROM ranked GROUP BY 1""".stripMargin
  }

  // null repair by group median: nulls are PLANTED deterministically
  // ((l_orderkey·7 + l_linenumber) % 13 — the oracle plants the same),
  // then imputed from each returnflag's exact median of the surviving
  // values — the median table is domain-bounded and broadcasts onto one
  // fact scan (the q_winsorize shape, with percentile instead of caps)
  query("q_impute_median")((s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        when((col("l_orderkey") * 7 + col("l_linenumber")) % 13 === 0, lit(null))
          .otherwise(col("l_quantity")).as("qty"))
    val med = li.where(col("qty").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(qty, 0.5)").as("med"))
    li.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("qty").isNull.as("was_null"),
        coalesce(col("qty"), col("med")).as("filled"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("was_null").cast("long")).as("n_imputed"),
        dsum(col("filled")).as("sum_filled"))
  }) {
    // identical planted-null rule, exact median from the survivors
    """WITH li AS (
      |  SELECT l_returnflag,
      |    CASE WHEN (l_orderkey * 7 + l_linenumber) % 13 = 0 THEN NULL
      |         ELSE l_quantity END AS qty
      |  FROM lineitem),
      | med AS (
      |  SELECT l_returnflag, quantile_cont(qty, 0.5) AS med
      |  FROM li WHERE qty IS NOT NULL GROUP BY 1)
      |SELECT li.l_returnflag, count(*)::BIGINT AS n_rows,
      |  sum(CASE WHEN qty IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_imputed,
      |  cast(sum(cast(floor(coalesce(qty, med) * 100.0 + 0.5) AS bigint)) AS double)
      |    / 100.0 AS sum_filled
      |FROM li JOIN med ON li.l_returnflag = med.l_returnflag
      |GROUP BY 1""".stripMargin
  }

  // leakage-safe out-of-fold target encoding (the supervised-feature
  // twin of q_leakage_safe_split's discipline): the encoder table maps
  // (category, fold) to the target mean computed WITHOUT that fold's
  // own rows — subtracting the fold's sums from the category totals, so
  // one grouped aggregation feeds every fold and no row ever sees its
  // own target. Exact integer cents until the single final division;
  // single-fold categories (n_out = 0) are unencodable by definition
  // and excluded on both sides
  query("q_target_encode")((s, dir) => {
    val o = t(s, dir, "orders").select(
      col("o_orderpriority").as("cat"),
      (col("o_orderkey") % 5).as("fold"),
      cents(col("o_totalprice")).as("y"))
    val byCatFold = o.groupBy(col("cat"), col("fold"))
      .agg(count(lit(1)).as("n_f"), sum(col("y")).as("s_f"))
    val byCat = byCatFold.groupBy(col("cat"))
      .agg(sum(col("n_f")).as("n_all"), sum(col("s_f")).as("s_all"))
    byCatFold.join(byCat, Seq("cat"))
      .where(col("n_all") > col("n_f"))
      .select(col("cat"), col("fold"), col("n_f"),
        (col("n_all") - col("n_f")).as("n_out"),
        round((col("s_all") - col("s_f")).cast("double") /
          (col("n_all") - col("n_f")).cast("double"), 6).as("enc_out_cents"))
  }) {
    // identical integer-cents sums, identical subtract-own-fold
    // arithmetic, one final IEEE division rounded to 6
    """WITH o AS (
      |  SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
      |    cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS y
      |  FROM orders),
      | f AS (
      |  SELECT cat, fold, count(*)::BIGINT AS n_f, sum(y)::BIGINT AS s_f
      |  FROM o GROUP BY 1, 2),
      | c AS (
      |  SELECT cat, sum(n_f)::BIGINT AS n_all, sum(s_f)::BIGINT AS s_all
      |  FROM f GROUP BY 1)
      |SELECT f.cat, f.fold, f.n_f,
      |  (c.n_all - f.n_f)::BIGINT AS n_out,
      |  round(cast(c.s_all - f.s_f AS double) /
      |        cast(c.n_all - f.n_f AS double), 6) AS enc_out_cents
      |FROM f JOIN c ON f.cat = c.cat
      |WHERE c.n_all > f.n_f""".stripMargin
  }

  /** approx_percentile accuracy for the *_approx scale twins: rank error
    * ≤ n/accuracy per group. 10k keeps sketch memory a few hundred KB per
    * group regardless of domain cardinality — the continuous-column
    * production setting the exact twins cannot offer. */
  private val PctSketchAccuracy = 10000

  /** Rank-error audit for one approx_percentile output — the
    * oracle-decidable boolean the *_approx twins emit in place of the
    * engine-specific sketch value. The GK sketch contract: the returned
    * value (always an observed value) occupies a sorted rank within
    * eps*n of the target p*n, eps = 1/accuracy. `below`/`atOrBelow` are
    * the EXACT counts of rows strictly below / at-or-below the sketch
    * value, so the value occupies 1-indexed ranks [below+1, atOrBelow];
    * the audit passes iff that interval intersects [p*n - tol, p*n + tol]
    * with tol = 2*eps*n + 1 (doubled, plus one rank, to absorb the
    * engine's target-rank rounding convention). The oracle side emits
    * literal TRUE — a broken sketch flips the Spark boolean and fails
    * the hash. */
  private def sketchRankOk(below: org.apache.spark.sql.Column,
      atOrBelow: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column, p: Double): org.apache.spark.sql.Column = {
    val tol = lit(2.0d / PctSketchAccuracy) * n.cast("double") + lit(1.0d)
    val target = lit(p) * n.cast("double")
    (atOrBelow.cast("double") >= target - tol) &&
      ((below + lit(1L)).cast("double") <= target + tol)
  }
}
