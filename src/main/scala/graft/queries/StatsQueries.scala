package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ext.Sampling
import graft.queries.QueryHelpers._
import graft.staging.StagedArtifacts._

/** Statistical tests and experiment evaluation (A/B, CUPED, DiD, KS,
  * calibration), privacy (k-anonymity, l-diversity, DP) and sampling. */
object StatsQueries extends QueryFamily("stats") {

  // offline classifier evaluation: exact tie-aware ROC AUC (integer
  // Mann-Whitney — per distinct score, positives pair with negatives
  // strictly below + half the ties; ONE final division) plus the
  // confusion counts and precision/recall/F1 at the n_chars >= 306
  // operating point, label = "is English". The cumulative step joins
  // the SMALL per-distinct-score frame, never the rows — score-domain
  // bounded, no global window, no single partition
  query("q_classifier_eval")((s, dir) => {
    graft.ext.Evaluation.binaryClassifierReport(
      t(s, dir, "documents"),
      labelCol = col("lang") === "en",
      scoreCol = col("n_chars"),
      threshold = lit(306L))
  }) {
    // identical integer U statistic and threshold counts, the same
    // single divisions ("precision" quoted — reserved word there)
    """WITH r AS (
      |  SELECT (lang = 'en') AS y, n_chars AS s, n_chars >= 306 AS pred
      |  FROM documents WHERE lang IS NOT NULL),
      | conf AS (
      |  SELECT
      |    sum(CASE WHEN y AND pred THEN 1 ELSE 0 END)::BIGINT AS tp,
      |    sum(CASE WHEN NOT y AND pred THEN 1 ELSE 0 END)::BIGINT AS fp,
      |    sum(CASE WHEN y AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS fn,
      |    sum(CASE WHEN NOT y AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS tn
      |  FROM r),
      | byscore AS (
      |  SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
      |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
      |  FROM r GROUP BY 1),
      | below AS (
      |  SELECT a.s, a.p, a.n, coalesce(sum(b.n), 0)::BIGINT AS neg_below
      |  FROM byscore a LEFT JOIN byscore b ON b.s < a.s
      |  GROUP BY 1, 2, 3),
      | auc AS (
      |  SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
      |    sum(p * neg_below * 2 + p * n)::BIGINT AS auc_num
      |  FROM below)
      |SELECT n_pos, n_neg, tp, fp, fn, tn,
      |  cast(auc_num AS double) / cast(n_pos * n_neg * 2 AS double) AS auc,
      |  cast(tp AS double) / cast(tp + fp AS double) AS "precision",
      |  cast(tp AS double) / cast(tp + fn AS double) AS recall,
      |  cast(tp * 2 AS double) / cast(tp * 2 + fp + fn AS double) AS f1
      |FROM conf CROSS JOIN auc""".stripMargin
  }

  // A/B experiment read-out: units (users) hash-gated 50/50 into arms
  // (the assignment method real experiment platforms use — and the
  // oracle replays it), conversion = any purchase, two-proportion z²
  // under pooled variance with the χ²(1, α=0.05) significance gate.
  // Integer counts; the statistic is IEEE ops in one fixed order
  query("q_ab_test")((s, dir) => {
    graft.ext.Evaluation.abTest(
      t(s, dir, "events"), col("user_id"),
      col("event_type") === "purchase" && col("value") >= 120,
      seed = "exp1:")
  }) {
    // the same hash-gated arms and the same fixed-order pooled-variance z²
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value >= 120 THEN 1 ELSE 0 END) AS conv,
      |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a
      |  FROM events GROUP BY user_id),
      | c AS (SELECT
      |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN is_a THEN conv ELSE 0 END)::BIGINT AS conv_a,
      |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(CASE WHEN NOT is_a THEN conv ELSE 0 END)::BIGINT AS conv_b
      |  FROM u),
      | z AS (SELECT *,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
      |        AND conv_a + conv_b < n_a + n_b
      |   THEN (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
      |    * (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
      |    / (cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double)
      |       * (1.0 - cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double))
      |       * (1.0 / cast(n_a AS double) + 1.0 / cast(n_b AS double)))
      |   ELSE 0.0 END AS z2
      |  FROM c)
      |SELECT n_a, conv_a, n_b, conv_b, z2,
      |  z2 >= 3.841458820694124 AS significant
      |FROM z""".stripMargin
  }

  // sample-ratio-mismatch health check for q_ab_test's assignment: a
  // 1-df χ² on the observed 50/50 unit split — the validity gate run
  // BEFORE reading any effect (a skewed split means broken logging or
  // bot asymmetry, not a treatment effect)
  query("q_srm_check")((s, dir) => {
    graft.ext.Evaluation.srmCheck(
      t(s, dir, "events"), col("user_id"), seed = "exp1:")
  }) {
    // same distinct-unit gate and fixed-order χ²
    """WITH u AS (
      |  SELECT DISTINCT user_id,
      |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a
      |  FROM events),
      | c AS (SELECT
      |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b
      |  FROM u)
      |SELECT n_a, n_b,
      |  (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
      |    * (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
      |    / (cast(n_a + n_b AS double) / 2.0)
      |  + (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
      |    * (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
      |    / (cast(n_a + n_b AS double) / 2.0) AS chi2,
      |  (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
      |    * (cast(n_a AS double) - cast(n_a + n_b AS double) / 2.0)
      |    / (cast(n_a + n_b AS double) / 2.0)
      |  + (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
      |    * (cast(n_b AS double) - cast(n_a + n_b AS double) / 2.0)
      |    / (cast(n_a + n_b AS double) / 2.0)
      |    >= 3.841458820694124 AS srm_detected
      |FROM c""".stripMargin
  }

  // heterogeneous treatment effects: q_ab_test's arms and z² computed
  // WITHIN each market segment (users joined to customers on the id;
  // unmatched users form their own 'unknown' segment rather than
  // silently dropping) — the read-out that says whether the win
  // concentrates in one cohort. Same degenerate-variance contract
  query("q_ab_segments")((s, dir) => {
    val seg = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val ev = t(s, dir, "events")
      .join(seg, Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("unknown")))
    graft.ext.Evaluation.abTestByGroup(ev, col("user_id"), col("segment"),
      col("event_type") === "purchase" && col("value") >= 120,
      seed = "exp1:")
  }) {
    // the same left-join segment attach, arm gate, and guarded z² per group
    """WITH ev AS (
      |  SELECT e.user_id, e.event_type, e.value,
      |    coalesce(c.c_mktsegment, 'unknown') AS segment
      |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey),
      | u AS (
      |  SELECT user_id, segment,
      |    max(CASE WHEN event_type = 'purchase' AND value >= 120 THEN 1 ELSE 0 END) AS conv,
      |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a
      |  FROM ev GROUP BY 1, 2),
      | c AS (SELECT segment,
      |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN is_a THEN conv ELSE 0 END)::BIGINT AS conv_a,
      |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(CASE WHEN NOT is_a THEN conv ELSE 0 END)::BIGINT AS conv_b
      |  FROM u GROUP BY 1),
      | z AS (SELECT *,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
      |        AND conv_a + conv_b < n_a + n_b
      |   THEN (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
      |    * (cast(conv_a AS double) / cast(n_a AS double) - cast(conv_b AS double) / cast(n_b AS double))
      |    / (cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double)
      |       * (1.0 - cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double))
      |       * (1.0 / cast(n_a AS double) + 1.0 / cast(n_b AS double)))
      |   ELSE 0.0 END AS z2
      |  FROM c)
      |SELECT segment, n_a, conv_a, n_b, conv_b, z2,
      |  z2 >= 3.841458820694124 AS significant
      |FROM z""".stripMargin
  }

  // the full PR/ROC curve for the q_classifier_eval scorer: confusion
  // counts at EVERY distinct threshold via suffix sums over the
  // domain-bounded per-score frame — how the 306 operating point was
  // actually chosen. tp+fn and fp+tn conserve per row by construction
  query("q_threshold_sweep")((s, dir) => {
    graft.ext.Evaluation.thresholdSweep(
      t(s, dir, "documents"),
      labelCol = col("lang") === "en",
      scoreCol = col("n_chars"))
  }) {
    // the same per-distinct-score suffix sums and single divisions
    """WITH r AS (
      |  SELECT (lang = 'en') AS y, n_chars AS s
      |  FROM documents WHERE lang IS NOT NULL),
      | bs AS (
      |  SELECT s,
      |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
      |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
      |  FROM r GROUP BY 1),
      | t AS (SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg FROM bs),
      | c AS (
      |  SELECT s,
      |    sum(p) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
      |    sum(n) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp
      |  FROM bs)
      |SELECT s AS threshold, tp, fp,
      |  (n_pos - tp)::BIGINT AS fn, (n_neg - fp)::BIGINT AS tn,
      |  cast(tp AS double) / cast(tp + fp AS double) AS "precision",
      |  cast(tp AS double) / cast(n_pos AS double) AS recall,
      |  cast(fp AS double) / cast(n_neg AS double) AS fpr
      |FROM c, t""".stripMargin
  }

  // CUPED variance reduction: per-user purchase spend in the SECOND
  // half of the event range (the "experiment period" metric), adjusted
  // by first-half spend (the pre-experiment covariate) — integer-cents
  // moments, one aggregation; reports θ and the ρ² variance reduction
  // the adjustment buys. The half boundary is exact integer micros
  query("q_cuped")((s, dir) => {
    val tsUs = graft.sources.Tables.tsMicros(col("ts"))
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"), tsUs.as("__us"))
    // integer div, per the FIXTURES.md contract: (min+max) div 2 —
    // the double-division form is exact only while epoch-micros sums
    // stay below 2^53 and would silently diverge from the oracle on a
    // nanos-scale or far-future time axis
    val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
    val units = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("__us") < col("__mid"),
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("x_cents"),
        sum(when(col("event_type") === "purchase" && col("__us") >= col("__mid"),
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("y_cents"))
    graft.ext.Evaluation.cupedAdjustment(units, col("y_cents"), col("x_cents"))
  }) {
    // same integer midpoint, same cents moments (DuckDB's HUGEINT sums
    // hold the same integers; the double casts land on identical values),
    // same fixed-order θ/variance arithmetic
    """WITH b AS (
      |  SELECT epoch_us(ts) AS us, user_id, event_type, value FROM events),
      | m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
      | units AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type = 'purchase' AND us < mid
      |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS x,
      |    sum(CASE WHEN event_type = 'purchase' AND us >= mid
      |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS y
      |  FROM b, m GROUP BY 1),
      | mom AS (
      |  SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      |  FROM units)
      |SELECT n AS n_units,
      |  CASE WHEN cast(n * sxx - sx * sx AS double) > 0
      |    THEN cast(n * sxy - sx * sy AS double) / cast(n * sxx - sx * sx AS double)
      |    ELSE 0.0 END AS theta,
      |  cast(n * syy - sy * sy AS double)
      |    / (cast(n AS double) * cast(n AS double)) AS var_raw,
      |  CASE WHEN cast(n * sxx - sx * sx AS double) > 0
      |    THEN (cast(n * syy - sy * sy AS double)
      |          - cast(n * sxy - sx * sy AS double) * cast(n * sxy - sx * sy AS double)
      |            / cast(n * sxx - sx * sx AS double))
      |         / (cast(n AS double) * cast(n AS double))
      |    ELSE cast(n * syy - sy * sy AS double)
      |         / (cast(n AS double) * cast(n AS double)) END AS var_adj,
      |  CASE WHEN cast(n * sxx - sx * sx AS double) > 0
      |        AND cast(n * syy - sy * sy AS double) > 0
      |    THEN cast(n * sxy - sx * sy AS double) * cast(n * sxy - sx * sy AS double)
      |         / (cast(n * sxx - sx * sx AS double) * cast(n * syy - sy * sy AS double))
      |    ELSE 0.0 END AS var_reduction
      |FROM mom""".stripMargin
  }

  // difference-in-differences over q_cuped's pre/post spend cells and
  // q_ab_test's hash-gated arms — the parallel-trends causal estimate
  // that removes arm baseline differences. Integer-cents sums, one cell
  // rollup, fixed-order means
  query("q_did")((s, dir) => {
    val tsUs = graft.sources.Tables.tsMicros(col("ts"))
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"), tsUs.as("__us"))
    // integer div, per the FIXTURES.md contract: (min+max) div 2 —
    // the double-division form is exact only while epoch-micros sums
    // stay below 2^53 and would silently diverge from the oracle on a
    // nanos-scale or far-future time axis
    val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
    val units = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("__us") < col("__mid"),
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("pre_cents"),
        sum(when(col("event_type") === "purchase" && col("__us") >= col("__mid"),
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("post_cents"))
    graft.ext.Evaluation.diffInDiff(units, col("user_id"),
      col("pre_cents"), col("post_cents"), seed = "exp1:")
  }) {
    // same arm gate, same pre/post cells, same fixed-order cell means
    """WITH b AS (
      |  SELECT epoch_us(ts) AS us, user_id, event_type, value FROM events),
      | m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
      | units AS (
      |  SELECT user_id,
      |    substr(md5('exp1:' || cast(user_id AS varchar)), 1, 8) < '80000000' AS is_a,
      |    sum(CASE WHEN event_type = 'purchase' AND us < mid
      |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS pre,
      |    sum(CASE WHEN event_type = 'purchase' AND us >= mid
      |        THEN cast(floor(value * 100 + 0.5) AS bigint) ELSE 0 END) AS post
      |  FROM b, m GROUP BY 1, 2),
      | c AS (
      |  SELECT
      |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(CASE WHEN is_a THEN pre ELSE 0 END)::BIGINT AS sa_pre,
      |    sum(CASE WHEN is_a THEN post ELSE 0 END)::BIGINT AS sa_post,
      |    sum(CASE WHEN NOT is_a THEN pre ELSE 0 END)::BIGINT AS sb_pre,
      |    sum(CASE WHEN NOT is_a THEN post ELSE 0 END)::BIGINT AS sb_post
      |  FROM units)
      |SELECT n_a, n_b,
      |  cast(sa_pre AS double) / cast(n_a AS double) AS mean_a_pre,
      |  cast(sa_post AS double) / cast(n_a AS double) AS mean_a_post,
      |  cast(sb_pre AS double) / cast(n_b AS double) AS mean_b_pre,
      |  cast(sb_post AS double) / cast(n_b AS double) AS mean_b_post,
      |  cast(sa_post AS double) / cast(n_a AS double)
      |    - cast(sa_pre AS double) / cast(n_a AS double) AS delta_a,
      |  cast(sb_post AS double) / cast(n_b AS double)
      |    - cast(sb_pre AS double) / cast(n_b AS double) AS delta_b,
      |  (cast(sa_post AS double) / cast(n_a AS double)
      |    - cast(sa_pre AS double) / cast(n_a AS double))
      |  - (cast(sb_post AS double) / cast(n_b AS double)
      |    - cast(sb_pre AS double) / cast(n_b AS double)) AS did
      |FROM c""".stripMargin
  }

  // deterministic subsampling-bootstrap CI for the mean doc length —
  // the uncertainty band an eval report publishes with its point
  // estimate. Replica membership is an md5 hash gate (engine- and
  // layout-reproducible, unlike RNG bootstraps); replica means are one
  // IEEE division each; p05/p50/p95 are EXACT order statistics of the
  // 100 replica means, tie-broken by replica id
  query("q_bootstrap_ci")((s, dir) => {
    graft.ext.Evaluation.bootstrapMeanCI(
      t(s, dir, "documents"), "doc_id", col("n_chars"),
      b = 100, fraction = 0.5, seed = "boot")
  }) {
    // same md5 replica gate, same one-division means, same exact
    // order-statistic ranks over (mean, replica)
    """WITH reps AS (
      |  SELECT g.b AS b,
      |    cast(sum(n_chars) AS double) / cast(count(*) AS double) AS m
      |  FROM documents, generate_series(0, 99) AS g(b)
      |  WHERE n_chars IS NOT NULL
      |    AND substr(md5('boot:' || b || ':' || doc_id), 1, 8) < '80000000'
      |  GROUP BY 1),
      | ranked AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS r FROM reps),
      | f AS (
      |  SELECT cast(sum(n_chars) AS double) / cast(count(*) AS double) AS mean_full
      |  FROM documents WHERE n_chars IS NOT NULL)
      |SELECT mean_full,
      |  max(CASE WHEN r = 5 THEN m END) AS p05_mean,
      |  max(CASE WHEN r = 50 THEN m END) AS p50_mean,
      |  max(CASE WHEN r = 95 THEN m END) AS p95_mean,
      |  count(*)::BIGINT AS n_replicas
      |FROM ranked, f GROUP BY mean_full""".stripMargin
  }

  // sliced (per-language) AUC — the fairness report an aggregate AUC
  // hides a weak group behind: same integer Mann-Whitney per group,
  // group-local range join on per-group distinct scores, one-class
  // groups excluded
  query("q_grouped_auc")((s, dir) => {
    graft.ext.Evaluation.groupedAuc(
      t(s, dir, "documents"),
      groupCol = col("lang"),
      labelCol = locate("spark", col("text")) > 0,
      scoreCol = col("n_chars"))
  }) {
    // same per-group U statistic (position() is the LOCATE twin), same
    // exclusions and single division
    """WITH r AS (
      |  SELECT lang AS g, (position('spark' IN text) > 0) AS y, n_chars AS s
      |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      | bysc AS (
      |  SELECT g, s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
      |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
      |  FROM r GROUP BY 1, 2),
      | below AS (
      |  SELECT a.g, a.s, a.p, a.n, coalesce(sum(b.n), 0)::BIGINT AS neg_below
      |  FROM bysc a LEFT JOIN bysc b ON b.g = a.g AND b.s < a.s
      |  GROUP BY 1, 2, 3, 4)
      |SELECT g AS group_key, sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
      |  cast(sum(p * neg_below * 2 + p * n) AS double) /
      |    cast(sum(p) * sum(n) * 2 AS double) AS auc
      |FROM below GROUP BY 1 HAVING sum(p) > 0 AND sum(n) > 0""".stripMargin
  }

  // decile gains/lift triage: "keep the top-k% by score — what share
  // of positives is captured?" Exact 0-based global rank (range
  // partition + broadcast offsets, no single reducer), integer `div`
  // bucketing, cumulative step on the broadcast 10-row frame; every
  // rate one IEEE division of integer products
  query("q_decile_lift")((s, dir) => {
    graft.ext.Evaluation.decileLift(
      t(s, dir, "documents"),
      labelCol = col("lang") === "en",
      scoreCol = col("n_chars"), idCol = col("doc_id"))
  }) {
    // same 0-based rank (row_number − 1 under the identical total
    // order), same integer `//` buckets and single divisions
    """WITH r AS (
      |  SELECT (lang = 'en') AS y,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r
      |  FROM documents),
      | t AS (SELECT count(*)::BIGINT AS total FROM r),
      | b AS (
      |  SELECT (r.r * 10) // t.total AS bucket, count(*)::BIGINT AS n,
      |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos
      |  FROM r, t GROUP BY 1),
      | tot AS (SELECT sum(n)::BIGINT AS tot_n, sum(pos)::BIGINT AS tot_pos FROM b),
      | c AS (
      |  SELECT a.bucket, a.n, a.pos, sum(b2.pos)::BIGINT AS cum_pos
      |  FROM b a JOIN b b2 ON b2.bucket <= a.bucket
      |  GROUP BY 1, 2, 3)
      |SELECT c.bucket, c.n, c.pos, c.cum_pos,
      |  cast(c.pos AS double) / cast(c.n AS double) AS pos_rate,
      |  cast(c.pos * tot.tot_n AS double) /
      |    cast(c.n * tot.tot_pos AS double) AS lift,
      |  cast(c.cum_pos AS double) / cast(tot.tot_pos AS double) AS cum_capture
      |FROM c, tot""".stripMargin
  }

  // per-COLUMN structural drift between two snapshots (complement of
  // the row-level q_snapshot_diff): null-rate jumps, cardinality
  // shifts, value-length drift — the report that gates a new crawl
  // before training. The cur snapshot plants all three: lang nulled at
  // doc_id%13, source collapsed to 'mirror' at %5, text lengthened at
  // %7. One unpivot scan per snapshot, then a |cols|-row join
  query("q_profile_drift")((s, dir) => {
    val docs = t(s, dir, "documents")
    val prev = docs.where(col("doc_id") % 10 < 8)
    val cur = docs.where(col("doc_id") % 10 > 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .withColumn("lang", when(col("doc_id") % 13 === 0,
        lit(null).cast("string")).otherwise(col("lang")))
      .withColumn("source", when(col("doc_id") % 5 === 0,
        lit("mirror")).otherwise(col("source")))
    graft.operators.Profile.profileDrift(prev, cur,
      Seq("doc_id", "text", "lang", "source", "n_chars"))
  }) {
    // both snapshot profiles generated from one column list (UNION ALL
    // per column over the varchar rendering), exact distincts, avg char
    // lengths, and the same IEEE rate/length deltas
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def prof(src: String, p: String) = cols.map { c =>
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS ${p}_rows,
         |    sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS ${p}_nulls,
         |    count(DISTINCT v)::BIGINT AS ${p}_distinct,
         |    avg(length(v)) AS ${p}_avg_len
         |  FROM (SELECT cast($c AS varchar) AS v FROM $src)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH prev AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
       | cur0 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
       |    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
       |    CASE WHEN doc_id % 5 = 0 THEN 'mirror' ELSE source END AS source,
       |    n_chars
       |  FROM documents WHERE doc_id % 10 > 0),
       | pp AS (
       |  ${prof("prev", "prev")}),
       | cc AS (
       |  ${prof("cur0", "cur")})
       |SELECT col_name, prev_rows, cur_rows, prev_nulls, cur_nulls,
       |  cur_nulls / cast(cur_rows AS double) -
       |    prev_nulls / cast(prev_rows AS double) AS null_rate_delta,
       |  prev_distinct, cur_distinct,
       |  cur_distinct - prev_distinct AS distinct_delta,
       |  cur_avg_len - prev_avg_len AS avg_len_delta
       |FROM pp JOIN cc USING (col_name)""".stripMargin
  }

  // per-stratum quota: cap every source at 30 docs, chosen by stable
  // hash order — the domain-cap operation; exact quota via per-stratum
  // rank (group-limit pruned), not a fraction gate
  query("q_source_quota")((s, dir) => {
    Sampling.quotaSample(t(s, dir, "documents"), "doc_id", "source",
      maxPerStratum = 30, seed = "q")
      .select(col("doc_id"), col("source"))
  }) {
    """SELECT doc_id, source FROM documents
      |QUALIFY row_number() OVER (PARTITION BY source ORDER BY
      |  substring(md5('q' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8),
      |  doc_id) <= 30""".stripMargin
  }

  // Efraimidis–Spirakis weighted sample: 100 docs, inclusion probability
  // ∝ n_chars — the "sample long documents more" mixture op; narrow
  // TakeOrdered plan, no shuffle
  query("q_weighted_sample")((s, dir) => {
    Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 100, seed = "es")
      .select(col("doc_id"), col("source"), col("n_chars"))
  }) {
    // same 60-bit md5 uniform, same long→double→+1 cast order (the cast
    // rounds above 2^53 — identically in both engines), same ln()/w key
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    ln((('0x' || substr(md5('es' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 15))::UBIGINT::DOUBLE + 1.0)
      |       / 1152921504606846976.0) / cast(n_chars AS double) AS es_key
      |  FROM documents)
      |ORDER BY es_key DESC, doc_id ASC LIMIT 100""".stripMargin
  }

  // deterministic hash-gated 25% sample (stable under any partitioning)
  query("q_hash_sample")((s, dir) => {
    Sampling.hashSample(t(s, dir, "orders"), "o_orderkey", 0.25, seed = "s42")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }) {
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE substring(md5('s42' || coalesce(cast(o_orderkey AS varchar), chr(0) || 'null')), 1, 8) < '40000000'""".stripMargin
  }

  // weighted corpus mixture: per-source keep fraction, one narrow pass
  query("q_corpus_mix")((s, dir) => {
    Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
      defaultFraction = 0.125, seed = "mix")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
  }) {
    """SELECT source, count(*) AS n FROM documents
      |WHERE substring(md5('mix' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) <
      |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '80000000'
      |              WHEN 'src2' THEN '40000000' ELSE '20000000' END
      |GROUP BY source""".stripMargin
  }

  // deterministic global shuffle for training order (distributed sort +
  // zipWithIndex positions, no single-partition window)
  query("q_shuffle_order")((s, dir) => {
    Sampling.shuffleOrder(
      t(s, dir, "customer").select(col("c_custkey")), "c_custkey", seed = "ep1")
      .select(col("position"), col("c_custkey"))
  }) {
    """SELECT row_number() OVER (ORDER BY md5('ep1' || coalesce(cast(c_custkey AS varchar), chr(0) || 'null')), c_custkey) - 1 AS "position",
      | c_custkey
      |FROM customer""".stripMargin
  }

  // deterministic train/val/test split (hash-range assignment — a doc
  // keeps its split under any partitioning or corpus growth)
  query("q_split_assign")((s, dir) => {
    Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }) {
    """WITH assigned AS (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'cccccccc' THEN 'train'
      |         WHEN substring(md5('sp' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8) < 'e6666666' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM assigned GROUP BY split""".stripMargin
  }

  // k-anonymity by global-recoding ladder: publish each customer's QI at
  // the finest level whose crowd holds >= 10 rows — (nation, segment) →
  // (region, segment) → suppressed. Group counts are domain-bounded
  // tables broadcast back onto one fact scan; no fact-side shuffle.
  query("q_k_anonymity")((s, dir) => {
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    val base = cust
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
    graft.ext.Privacy.kAnonymizeLadder(base, k = 10,
      levels = Seq(
        Seq("qi_geo" -> col("n_name"), "qi_segment" -> col("c_mktsegment")),
        Seq("qi_geo" -> col("r_name"), "qi_segment" -> col("c_mktsegment"))))
      .select(col("c_custkey"), col("anon_level"), col("qi_geo"), col("qi_segment"))
  }) {
    // same two-level crowd counts, same first-fit CASE — anonymity sets
    // are counted over ALL rows at each level's projection
    """WITH base AS (
      |  SELECT c.c_custkey, n.n_name AS geo0, r.r_name AS geo1, c.c_mktsegment AS seg
      |  FROM customer c
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey),
      | c0 AS (SELECT geo0, seg, count(*) AS n0 FROM base GROUP BY 1, 2),
      | c1 AS (SELECT geo1, seg, count(*) AS n1 FROM base GROUP BY 1, 2)
      |SELECT b.c_custkey,
      |  CASE WHEN n0 >= 10 THEN 0 WHEN n1 >= 10 THEN 1 ELSE 2 END AS anon_level,
      |  CASE WHEN n0 >= 10 THEN geo0 WHEN n1 >= 10 THEN geo1 ELSE '*' END AS qi_geo,
      |  CASE WHEN n0 >= 10 THEN seg WHEN n1 >= 10 THEN seg ELSE '*' END AS qi_segment
      |FROM base b
      |JOIN c0 USING (geo0, seg)
      |JOIN c1 USING (geo1, seg)""".stripMargin
  }

  // l-diversity audit on top of the k-anonymity QI: each (nation,
  // segment) crowd must also hold >= 3 distinct account-balance bands,
  // or the crowd discloses its shared value (homogeneity attack) —
  // one map-combined aggregation, bounded count-distinct buffers
  query("q_l_diversity")((s, dir) => {
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val base = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
    graft.ext.Privacy.lDiversityAudit(base,
      Seq("qi_geo" -> col("n_name"), "qi_segment" -> col("c_mktsegment")),
      floor(col("c_acctbal") / lit(1000.0d)).cast("long"), l = 3)
      .select(col("qi_geo"), col("qi_segment"), col("group_size"),
        col("distinct_sensitive"), col("at_risk"))
  }) {
    // same grouped count-distinct over the same IEEE band arithmetic
    """SELECT n.n_name AS qi_geo, c.c_mktsegment AS qi_segment,
      |  count(*)::BIGINT AS group_size,
      |  count(DISTINCT CAST(floor(c.c_acctbal / 1000.0) AS BIGINT))::BIGINT AS distinct_sensitive,
      |  (count(DISTINCT CAST(floor(c.c_acctbal / 1000.0) AS BIGINT)) < 3) AS at_risk
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin
  }

  // size-balanced shard deal (snake draft on the exact global size
  // rank): per-shard byte totals within one max-doc of each other —
  // the epoch-straggler fix a modulo deal can't give; one range
  // exchange via GlobalRank, no single-reducer window
  query("q_balanced_shards")((s, dir) => {
    Sampling.balancedShards(t(s, dir, "documents"), "doc_id", col("n_chars"), n = 10)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }) {
    // the oracle's single-reducer row_number is the very plan
    // balancedShards avoids — same total order, same snake arithmetic
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
      |  FROM documents)
      |SELECT CAST(CASE WHEN (rk // 10) % 2 = 0 THEN rk % 10
      |            ELSE 9 - (rk % 10) END AS INTEGER) AS shard,
      |  count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
      |FROM r GROUP BY 1""".stripMargin
  }

  // calibration / reliability curve for the q_classifier_eval scorer:
  // per integer score bin, observed positive rate vs bin population —
  // the diagram read before trusting a threshold. Binning is integer
  // arithmetic on the raw score (no float edges), counts are exact,
  // one IEEE division per bin row
  query("q_calibration_curve")((s, dir) => {
    t(s, dir, "documents")
      .where(col("lang").isNotNull)
      .select(least(floor(col("n_chars") / 100).cast("long"), lit(9L)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
  }) {
    """SELECT least(cast(floor(n_chars / 100) AS bigint), 9) AS bin,
      |  count(*)::BIGINT AS n,
      |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_pos,
      |  cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS double)
      |    / cast(count(*) AS double) AS pos_rate
      |FROM documents WHERE lang IS NOT NULL
      |GROUP BY 1""".stripMargin
  }

  // right-to-be-forgotten scoping report: erase subjects (custkey ≡ 1
  // mod 97), cascade through the FK chain (orders by o_custkey,
  // lineitem by the affected ORDER keys, events by user_id), and count
  // would-be-deleted vs retained rows per table — the audit a deletion
  // job publishes before the destructive pass. Cascaded key sets are
  // derived explicitly (keys-only semi-join), each fact table is
  // scanned once reading only its key column
  query("q_erasure_audit")((s, dir) => {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    val subj = cust.where(col("c_custkey") % 97 === 1)
      .select(col("c_custkey").as("k"))
    val ordKeys = ord
      .join(subj.select(col("k").as("o_custkey")), Seq("o_custkey"), "left_semi")
      .select(col("o_orderkey").as("k"))
    graft.ext.Privacy.erasureAudit(Seq(
      ("customer", cust, "c_custkey", subj),
      ("events", t(s, dir, "events"), "user_id", subj),
      ("lineitem", t(s, dir, "lineitem"), "l_orderkey", ordKeys),
      ("orders", ord, "o_custkey", subj)))
  }) {
    // same subject predicate and explicit FK cascade; affected = IN the
    // (distinct'd) erase-key set, retained = the complement
    """WITH subj AS (
      |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 1),
      | okeys AS (
      |  SELECT o_orderkey AS k FROM orders
      |  WHERE o_custkey IN (SELECT k FROM subj))
      |SELECT 'customer' AS table_name,
      |  sum(CASE WHEN c_custkey IN (SELECT k FROM subj) THEN 1 ELSE 0 END)::BIGINT AS affected_rows,
      |  sum(CASE WHEN c_custkey IN (SELECT k FROM subj) THEN 0 ELSE 1 END)::BIGINT AS retained_rows
      |FROM customer
      |UNION ALL
      |SELECT 'events',
      |  sum(CASE WHEN user_id IN (SELECT k FROM subj) THEN 1 ELSE 0 END)::BIGINT,
      |  sum(CASE WHEN user_id IN (SELECT k FROM subj) THEN 0 ELSE 1 END)::BIGINT
      |FROM events
      |UNION ALL
      |SELECT 'lineitem',
      |  sum(CASE WHEN l_orderkey IN (SELECT k FROM okeys) THEN 1 ELSE 0 END)::BIGINT,
      |  sum(CASE WHEN l_orderkey IN (SELECT k FROM okeys) THEN 0 ELSE 1 END)::BIGINT
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders',
      |  sum(CASE WHEN o_custkey IN (SELECT k FROM subj) THEN 1 ELSE 0 END)::BIGINT,
      |  sum(CASE WHEN o_custkey IN (SELECT k FROM subj) THEN 0 ELSE 1 END)::BIGINT
      |FROM orders""".stripMargin
  }

  // population-stability-index drift between two md5-gated corpus
  // snapshots: fixed-width integer bins over snapshot A's [min, max]
  // (broadcast one-row bounds; integer arithmetic, so binning is exact
  // in both engines), Laplace-smoothed bin shares, per-bin PSI
  // contribution micro-nat-quantized. Two narrow corpus scans (a min/max
  // pre-pass, then the binning pass — a window for the bounds would
  // shuffle the corpus instead); bin-count frames are tiny (nbins rows),
  // totals ride a window over them
  query("q_drift_psi")((s, dir) => {
    val nbins = 10
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        Sampling.hashGate(col("doc_id"), 0.5, "snapA").as("__a"))
    val bounds = d.where(col("__a"))
      .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val counts = d.join(broadcast(bounds))
      .withColumn("bin", least(lit(nbins - 1), greatest(lit(0),
        floor((col("n_chars") - col("lo")) * lit(nbins) /
          (col("hi") - col("lo") + lit(1))).cast("int"))))
      .groupBy(col("bin"))
      .agg(sum(when(col("__a"), lit(1L)).otherwise(lit(0L))).as("n_a"),
           sum(when(!col("__a"), lit(1L)).otherwise(lit(0L))).as("n_b"))
    val w = Window.partitionBy()
    val pa = (col("n_a") + lit(1L)).cast("double") /
      (sum(col("n_a")).over(w) + lit(nbins.toLong)).cast("double")
    val pb = (col("n_b") + lit(1L)).cast("double") /
      (sum(col("n_b")).over(w) + lit(nbins.toLong)).cast("double")
    counts
      .select(col("bin"), col("n_a"), col("n_b"),
        floor((pa - pb) * log(pa / pb) * lit(1e6d) + lit(0.5d)).cast("long")
          .as("psi_unats"))
  }) {
    // identical md5 gate, integer bin arithmetic, Laplace-smoothed shares,
    // micro-nat PSI quantization
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    substring(md5('snapA' || coalesce(cast(doc_id AS varchar), chr(0) || 'null')), 1, 8)
      |      < '80000000' AS a
      |  FROM documents),
      | bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM d WHERE a),
      | counts AS (
      |  SELECT cast(least(9, greatest(0,
      |      cast(floor((n_chars - lo) * 10 / (hi - lo + 1)) AS integer))) AS integer) AS bin,
      |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS n_b
      |  FROM d, bounds GROUP BY 1),
      | t AS (SELECT bin, n_a, n_b,
      |    cast(sum(n_a) OVER () AS bigint) AS ta,
      |    cast(sum(n_b) OVER () AS bigint) AS tb
      |  FROM counts)
      |SELECT bin, n_a, n_b,
      |  cast(floor(
      |    (cast(n_a + 1 AS double) / cast(ta + 10 AS double) -
      |     cast(n_b + 1 AS double) / cast(tb + 10 AS double)) *
      |    ln((cast(n_a + 1 AS double) / cast(ta + 10 AS double)) /
      |       (cast(n_b + 1 AS double) / cast(tb + 10 AS double)))
      |    * 1000000.0 + 0.5) AS bigint) AS psi_unats
      |FROM t""".stripMargin
  }

  // t-closeness audit — the third rung of the privacy ladder
  // (q_k_anonymity crowd size, q_l_diversity value variety, now
  // DISTRIBUTION distance): EMD of each QI group's account-balance-band
  // distribution from the global one, ordered-metric closed form
  query("q_t_closeness")((s, dir) => {
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val base = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
    graft.ext.Privacy.tClosenessAudit(base,
      Seq("qi_geo" -> col("n_name"), "qi_segment" -> col("c_mktsegment")),
      floor(col("c_acctbal") / lit(1000.0d)).cast("long"), t = 0.2)
      .select(col("qi_geo"), col("qi_segment"), col("group_size"),
        col("emd"), col("at_risk"))
  }) {
    """WITH base AS (
      |  SELECT n_name AS qi_geo, c_mktsegment AS qi_segment,
      |    cast(floor(c_acctbal / 1000.0) AS bigint) AS band
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      | cell AS (
      |  SELECT qi_geo, qi_segment, band, count(*)::BIGINT AS gc
      |  FROM base GROUP BY 1, 2, 3),
      | bandc AS (SELECT band, count(*)::BIGINT AS bc FROM base GROUP BY 1),
      | tot AS (SELECT sum(bc)::BIGINT AS total, count(*)::BIGINT AS nbands FROM bandc),
      | grp AS (SELECT qi_geo, qi_segment, sum(gc)::BIGINT AS n FROM cell GROUP BY 1, 2),
      | grid AS MATERIALIZED (
      |  SELECT g.qi_geo, g.qi_segment, g.n, b.band, b.bc, t.total, t.nbands,
      |    coalesce(c.gc, 0)::BIGINT AS gc
      |  FROM grp g CROSS JOIN bandc b CROSS JOIN tot t
      |  LEFT JOIN cell c ON c.qi_geo = g.qi_geo
      |    AND c.qi_segment = g.qi_segment AND c.band = b.band),
      | cums AS (
      |  SELECT qi_geo, qi_segment, n, nbands,
      |    CAST(sum(gc) OVER win AS DOUBLE) / n AS cq,
      |    CAST(sum(bc) OVER win AS DOUBLE) / total AS cp
      |  FROM grid
      |  WINDOW win AS (PARTITION BY qi_geo, qi_segment ORDER BY band))
      |SELECT qi_geo, qi_segment, n AS group_size,
      |  round(sum(abs(cq - cp)) / (max(nbands) - 1), 6) AS emd,
      |  round(sum(abs(cq - cp)) / (max(nbands) - 1), 6) > 0.2 AS at_risk
      |FROM cums GROUP BY 1, 2, 3""".stripMargin
  }

  // ε-differentially-private count release (geometric mechanism,
  // ε = 1): per-(segment, nation) customer counts plus two-sided-
  // geometric noise from a 256-entry quantized inverse-CDF table,
  // clamped at 0. Noise is drawn deterministically per group key from
  // the portable md5-prefix family — the sticky-noise discipline that
  // stops averaging attacks across re-runs, and what lets the oracle
  // replay the release exactly (it consumes the SAME integer noise
  // table, generated by the same Scala function). One map-combined
  // aggregation; the noise lookup is a literal-array projection.
  query("q_dp_release")((s, dir) => {
    graft.ext.Privacy.dpNoisyCounts(
      t(s, dir, "customer"), Seq("c_mktsegment", "c_nationkey"),
      epsilon = 1.0, seed = "dp1:")
  }) {
    // the release replayed exactly: same counts, same md5-prefix noise
    // index, and the SAME 256 integer noise literals (both engines get
    // them from one geometricNoiseTable call — the quantile math runs
    // once on the driver, never in either engine)
    val tbl = graft.ext.Privacy.geometricNoiseTable(1.0).mkString(", ")
    s"""WITH g AS (
      |  SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS tc
      |  FROM customer GROUP BY 1, 2),
      | nz AS (
      |  SELECT *, ('0x' || substr(md5('dp1:' || c_mktsegment || ':' ||
      |    cast(c_nationkey AS varchar)), 1, 8))::BIGINT % 256 AS idx
      |  FROM g)
      |SELECT c_mktsegment, c_nationkey,
      |  greatest(tc + ([$tbl])[cast(idx AS int) + 1], 0)::BIGINT AS noisy_count,
      |  cast(1.0 AS double) AS epsilon
      |FROM nz""".stripMargin
  }

  // exact two-sample Kolmogorov-Smirnov: D = max |F_A - F_R| over the
  // pooled support, the classic "did this column's distribution move"
  // test between two slices. FRACTION-FREE: with c_g(v) = #{x_g <= v},
  // D's numerator is max |c_A*n_R - c_R*n_A| — pure integers, compared
  // in decimal(38,0) so the product never overflows at any scale. The
  // cumulative counts come from GlobalRank.withGlobalCumSum (range
  // exchange + partitioned prefix sums), NEVER an unpartitioned window
  // over the value order. One grouped pass collapses the input to its
  // distinct values first, so the prefix-sum frame is bounded by domain
  // cardinality, not row count.
  query("q_ks_test")((s, dir) => {
    // the inclusive-cum frame comes staged (stagedAbrCum — built once,
    // shared with q_wasserstein); the totals then fall out as max(cum)
    // (monotone), no second pass over the input
    val cum = stagedAbrCum(s, dir).select(col("cum_a"), col("cum_r"))
    val tot = cum.agg(max(col("cum_a")).as("n_a"), max(col("cum_r")).as("n_r"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_r"),
        abs(dec(col("cum_a")) * dec(col("n_r")) - dec(col("cum_r")) * dec(col("n_a"))).as("__d"))
      .groupBy(col("n_a"), col("n_r"))
      .agg(max(col("__d")).cast("double").as("d_num"))
      .select(col("n_a"), col("n_r"), col("d_num"),
        round(col("d_num") / (col("n_a").cast("double") * col("n_r").cast("double")), 6)
          .as("d_stat"))
  }) {
    // D's numerator replayed in exact integer arithmetic (DuckDB's BIGINT
    // sums widen to HUGEINT, mirroring the Spark side's decimal(38,0))
    """WITH byval AS MATERIALIZED (
      |  SELECT cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) AS v,
      |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS ca,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
      | cum AS (
      |  SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
      |    sum(cr) OVER (ORDER BY v) AS cum_r
      |  FROM byval),
      | tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cr)::BIGINT AS n_r FROM byval)
      |SELECT n_a, n_r,
      |  cast(max(abs(cum_a * n_r - cum_r * n_a)) AS double) AS d_num,
      |  round(cast(max(abs(cum_a * n_r - cum_r * n_a)) AS double)
      |    / (cast(n_a AS double) * cast(n_r AS double)), 6) AS d_stat
      |FROM cum CROSS JOIN tot
      |GROUP BY n_a, n_r""".stripMargin
  }

  // exact 1-D Wasserstein-1 (earth-mover) distance between the same two
  // slices q_ks_test compares — where KS reports the WORST pointwise CDF
  // gap, W1 integrates the gap over the value axis (|F_A - F_R| is
  // piecewise constant between consecutive distinct values, so the
  // integral is an exact finite sum). One withGlobalCumSums pass yields
  // BOTH inclusive cums AND the 0-based value rank (a prefix count of
  // lit(1)); each segment's height x gap product runs in decimal(38,0)
  // (the sum reaches ~1e23 at this fixture — past long, exact in
  // decimal and in DuckDB's hugeint; both engines cast the SAME exact
  // integer to double at the very end). The rank equi-join attaches
  // each value's successor; the top value correctly drops (no segment
  // above it).
  query("q_wasserstein")((s, dir) => {
    // the (v, rank, inclusive-cum) frame comes staged (stagedAbrCum —
    // built once, shared with q_ks_test)
    val cum = stagedAbrCum(s, dir)
    val nxt = cum.select((col("r") - 1L).as("r"), col("v").as("v_next"))
    val tot = cum.agg(max(col("cum_a")).as("n_a"), max(col("cum_r")).as("n_r"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    cum.join(nxt, Seq("r"))
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_r"),
        (abs(dec(col("cum_a")) * dec(col("n_r")) - dec(col("cum_r")) * dec(col("n_a"))) *
          dec(col("v_next") - col("v"))).as("__seg"))
      .groupBy(col("n_a"), col("n_r"))
      .agg(sum(col("__seg")).cast("double").as("w1_num"))
      .select(col("n_a"), col("n_r"), col("w1_num"),
        round(col("w1_num") /
          (col("n_a").cast("double") * col("n_r").cast("double")), 6).as("w1_cents"))
  }) {
    // the piecewise-constant CDF-gap integral replayed with windows; cum
    // is referenced twice (self-join on the rank) -> MATERIALIZED
    """WITH byval AS MATERIALIZED (
      |  SELECT cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) AS v,
      |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS ca,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS cr
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
      | cum AS MATERIALIZED (
      |  SELECT v, row_number() OVER (ORDER BY v) - 1 AS r,
      |    sum(ca) OVER (ORDER BY v) AS cum_a,
      |    sum(cr) OVER (ORDER BY v) AS cum_r
      |  FROM byval),
      | tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cr)::BIGINT AS n_r FROM byval),
      | seg AS (
      |  SELECT c.cum_a, c.cum_r, n.v - c.v AS gap
      |  FROM cum c JOIN cum n ON n.r = c.r + 1)
      |SELECT n_a, n_r,
      |  cast(sum(abs(cum_a * n_r - cum_r * n_a) * gap) AS double) AS w1_num,
      |  round(cast(sum(abs(cum_a * n_r - cum_r * n_a) * gap) AS double)
      |    / (cast(n_a AS double) * cast(n_r AS double)), 6) AS w1_cents
      |FROM seg CROSS JOIN tot
      |GROUP BY n_a, n_r""".stripMargin
  }

  // Gini concentration of customer lifetime spend — the inequality
  // read-out ("what share of revenue sits in the top tail") every
  // monetization/fairness review quotes. Fraction-free Mean-Difference
  // form: with x_(i) spend ascending (custkey tiebreak; tie order
  // cancels algebraically), G = sum((2i - n - 1) x_(i)) / (n sum x).
  // Ranks are GlobalRank's distributed exact ranks (range exchange +
  // partitioned window — no single-reducer sort); the weighted sum runs
  // in decimal(38,0) so rank*cents never overflows at scale. One IEEE
  // division + round at the very end.
  query("q_gini")((s, dir) => {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
    val (ranked, n) = graft.operators.GlobalRank.withGlobalRankAndCount(
      spend, Seq(col("x"), col("o_custkey")), "r")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    ranked
      .select((dec(lit(2L) * (col("r") + 1L) - lit(n + 1L)) * dec(col("x"))).as("__w"),
        col("x"))
      .agg(sum(col("__w")).as("__num"), sum(col("x")).as("total_cents"),
        count(lit(1)).as("n_units"))
      .select(col("n_units"), col("total_cents"),
        round(col("__num").cast("double") /
          (col("n_units").cast("double") * col("total_cents").cast("double")), 6)
          .as("gini_r"))
  }) {
    """WITH spend AS MATERIALIZED (
      |  SELECT o_custkey, sum(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint)) AS x
      |  FROM orders GROUP BY 1),
      | ranked AS (
      |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
      |    count(*) OVER () AS n
      |  FROM spend)
      |SELECT count(*)::BIGINT AS n_units, sum(x)::BIGINT AS total_cents,
      |  round(cast(sum((2 * i - n - 1) * x) AS double)
      |    / (cast(count(*) AS double) * cast(sum(x) AS double)), 6) AS gini_r
      |FROM ranked""".stripMargin
  }

  // Benford first-significant-digit audit over order totals — the
  // fabricated-data / broken-upstream screen an ingest review runs on
  // any money column. The digit is integer-exact (first char of the
  // cents value's decimal rendering — invariant to the *100 shift);
  // expected counts and chi-squared terms use log10(1+1/d) literals
  // computed ONCE in Scala and embedded in both engines, so no engine
  // log is ever taken. One narrow projection + a 9-row aggregate.
  query("q_benford")((s, dir) => {
    val byDigit = t(s, dir, "orders")
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    // digit is always in 1..9 (cents >= 1), so the 0.0 base never fires
    val expected = BenfordShare.foldLeft(lit(0.0d): org.apache.spark.sql.Column) {
      case (acc, (d, sh)) => when(col("digit") === d, lit(sh)).otherwise(acc)
    }
    byDigit
      .crossJoin(broadcast(byDigit.agg(sum(col("n_obs")).as("__n"))))
      .withColumn("__exp", col("__n").cast("double") * expected)
      .select(col("digit"), col("n_obs"),
        round(col("__exp"), 6).as("expected_r"),
        round((col("n_obs").cast("double") - col("__exp")) *
          (col("n_obs").cast("double") - col("__exp")) / col("__exp"), 6)
          .as("chi2_term_r"))
  }) {
    benfordOracleSql
  }

  // pointwise mutual information grid between document language and
  // source — the association map a corpus-mix review reads ("is src2
  // secretly all-German?"). Exact integer marginals; each cell's
  // p_xy*ln(n_xy*N/(n_x*n_y)) contribution is micro-quantized to a
  // LONG (the q_drift_psi unats discipline) so no cross-row float sum
  // exists anywhere. Two tiny broadcast joins over the cell table.
  query("q_mutual_info")((s, dir) => {
    val cells = t(s, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
    val nx = cells.groupBy(col("lang")).agg(sum(col("n_xy")).as("n_x"))
    val ny = cells.groupBy(col("source")).agg(sum(col("n_xy")).as("n_y"))
    val nn = cells.agg(sum(col("n_xy")).as("__n"))
    cells.join(broadcast(nx), Seq("lang")).join(broadcast(ny), Seq("source"))
      .crossJoin(broadcast(nn))
      .select(col("lang"), col("source"), col("n_xy"), col("n_x"), col("n_y"),
        floor((col("n_xy").cast("double") / col("__n").cast("double")) *
          log((col("n_xy").cast("double") * col("__n").cast("double")) /
            (col("n_x").cast("double") * col("n_y").cast("double"))) *
          lit(1e6d) + lit(0.5d)).cast("long").as("mi_unats"))
  }) {
    """WITH cells AS MATERIALIZED (
      |  SELECT lang, source, count(*) AS n_xy FROM documents GROUP BY 1, 2),
      | nx AS (SELECT lang, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1),
      | ny AS (SELECT source, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1),
      | nn AS (SELECT sum(n_xy)::BIGINT AS n FROM cells)
      |SELECT lang, source, n_xy, n_x, n_y,
      |  cast(floor((cast(n_xy AS double) / cast(n AS double))
      |    * ln((cast(n_xy AS double) * cast(n AS double))
      |        / (cast(n_x AS double) * cast(n_y AS double)))
      |    * 1e6 + 0.5) AS bigint) AS mi_unats
      |FROM cells JOIN nx USING (lang) JOIN ny USING (source) CROSS JOIN nn""".stripMargin
  }

  // chi-squared independence + Cramér's V between order priority and
  // status — the categorical-association strength score a feature audit
  // ranks candidate columns by. Cell terms are micro-quantized to longs
  // BEFORE summing (no cross-cell float sum — the q_drift_psi
  // discipline); expected counts are int/int IEEE divisions; V's sqrt
  // is one correctly-rounded call on both engines.
  query("q_cramers_v")((s, dir) => {
    val cells = t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val nx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val ny = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val dims = cells.agg(sum(col("n_xy")).as("__n"),
      countDistinct(col("x")).as("r"), countDistinct(col("y")).as("c"))
    val e = col("n_x").cast("double") * col("n_y").cast("double") /
      col("__n").cast("double")
    cells.join(broadcast(nx), Seq("x")).join(broadcast(ny), Seq("y"))
      .crossJoin(broadcast(dims))
      .select(col("__n"), col("r"), col("c"),
        floor((col("n_xy").cast("double") - e) * (col("n_xy").cast("double") - e) /
          e * lit(1e6d) + lit(0.5d)).cast("long").as("__term"))
      .groupBy(col("__n").as("n"), col("r"), col("c"))
      .agg(sum(col("__term")).as("chi2_micro"))
      .select(col("n"), col("r"), col("c"), col("chi2_micro"),
        round(sqrt((col("chi2_micro").cast("double") / lit(1e6d)) /
          (col("n").cast("double") *
            least(col("r") - 1L, col("c") - 1L).cast("double"))), 6)
          .as("cramers_v_r"))
  }) {
    """WITH cells AS MATERIALIZED (
      |  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS n_xy
      |  FROM orders GROUP BY 1, 2),
      | nx AS (SELECT x, sum(n_xy)::BIGINT AS n_x FROM cells GROUP BY 1),
      | ny AS (SELECT y, sum(n_xy)::BIGINT AS n_y FROM cells GROUP BY 1),
      | dims AS (SELECT sum(n_xy)::BIGINT AS n, count(DISTINCT x)::BIGINT AS r,
      |   count(DISTINCT y)::BIGINT AS c FROM cells),
      | terms AS (
      |  SELECT n, r, c,
      |    cast(floor(
      |      (cast(n_xy AS double) - cast(n_x AS double) * cast(n_y AS double) / cast(n AS double))
      |      * (cast(n_xy AS double) - cast(n_x AS double) * cast(n_y AS double) / cast(n AS double))
      |      / (cast(n_x AS double) * cast(n_y AS double) / cast(n AS double))
      |      * 1e6 + 0.5) AS bigint) AS term
      |  FROM cells JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN dims)
      |SELECT n, r, c, sum(term)::BIGINT AS chi2_micro,
      |  round(sqrt((cast(sum(term) AS double) / 1e6)
      |    / (cast(n AS double) * cast(least(r - 1, c - 1) AS double))), 6) AS cramers_v_r
      |FROM terms GROUP BY n, r, c""".stripMargin
  }

  // equal-allocation stratified sample over languages
  // (Sampling.stratifiedEqualAllocation): every stratum hash-gated at
  // min_count/its_count, the class-balancing sampler for a training
  // mix. Membership is pinned, not just counted: kept_fp is the
  // BIT_XOR of surviving doc_ids, so a single wrongly-gated row flips
  // the hash even when counts coincide.
  query("q_stratified_sample")((s, dir) => {
    val docs = t(s, dir, "documents")
    val kept = Sampling.stratifiedEqualAllocation(docs, "doc_id", "lang", seed = "strat")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), expr("bit_xor(doc_id)").as("kept_fp"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_fp"), lit(0L)).as("kept_fp"))
  }) {
    // the md5 gate replayed with a COMPUTED threshold (t/n_s int/int IEEE
    // division, floor * 2^32 — same doubles in both engines); membership
    // pinned by the kept-set BIT_XOR, not just counts
    """WITH counts AS MATERIALIZED (
      |  SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
      | tgt AS (SELECT min(n_s)::BIGINT AS t FROM counts),
      | kept AS (
      |  SELECT d.lang, d.doc_id
      |  FROM documents d JOIN counts USING (lang) CROSS JOIN tgt
      |  WHERE ('0x' || substr(md5('strat' || coalesce(cast(d.doc_id AS varchar), chr(0) || 'null')), 1, 8))::UBIGINT::BIGINT
      |    < cast(floor((cast(t AS double) / cast(n_s AS double)) * 4294967296.0) AS bigint)),
      | agg AS (
      |  SELECT lang, count(*)::BIGINT AS n_kept, bit_xor(doc_id)::BIGINT AS kept_fp
      |  FROM kept GROUP BY 1)
      |SELECT c.lang, c.n_s::BIGINT AS n_total,
      |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
      |  coalesce(a.kept_fp, 0)::BIGINT AS kept_fp
      |FROM counts c LEFT JOIN agg a USING (lang)""".stripMargin
  }

  /** Benford first-digit shares log10(1 + 1/d), computed once here and
    * embedded as IDENTICAL double literals in the Spark plan and the
    * generated q_benford oracle SQL — neither engine's own log10 is ever
    * consulted. */
  private val BenfordShare: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** The q_benford oracle: expected shares are the SAME log10(1+1/d)
    * double literals [[BenfordShare]] embeds in the Spark plan — Scala
    * Double.toString round-trips, so both engines read the identical
    * bit pattern and neither computes a log. */
  private def benfordOracleSql: String = {
    val shares = BenfordShare.map { case (d, sh) => s"WHEN $d THEN $sh" }.mkString(" ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT cast(substr(cast(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS varchar), 1, 1) AS bigint) AS digit
       |  FROM orders),
       | byd AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
       | tot AS (SELECT sum(n_obs)::BIGINT AS n FROM byd)
       |SELECT digit, n_obs,
       |  round(cast(n AS double) * (CASE digit $shares END), 6) AS expected_r,
       |  round((cast(n_obs AS double) - cast(n AS double) * (CASE digit $shares END))
       |    * (cast(n_obs AS double) - cast(n AS double) * (CASE digit $shares END))
       |    / (cast(n AS double) * (CASE digit $shares END)), 6) AS chi2_term_r
       |FROM byd CROSS JOIN tot""".stripMargin
  }
}
