package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy operators for releasing curated datasets: k-anonymity auditing
  * and generalization (Sweeney 2002; global-recoding ladder), the
  * structured-data complement to the text-side PII scrubbing
  * (`TextFunctions.piiCount` / q_pii_scrub).
  */
object Privacy {

  /** k-anonymity by GLOBAL-RECODING LADDER: each row's quasi-identifier
    * tuple is published at the FINEST level of `levels` whose group (over
    * the whole table, at that level's projection) holds at least `k` rows;
    * rows whose coarsest level still falls below `k` are suppressed (every
    * QI replaced by `suppressed`).
    *
    * `levels` is ordered finest → coarsest; every level must emit the SAME
    * output names (generalization replaces values — nation → region — not
    * schema). Anonymity-set accounting: a level-L group is counted over
    * ALL rows projected to level L, because a row published finer than L
    * still reveals its level-L projection (a published nation implies the
    * region) and so joins the coarser row's crowd.
    *
    * Returns the input plus `anon_level` (0-based; `levels.size` =
    * suppressed) and the generalized QI output columns (as strings, so the
    * suppression sentinel types uniformly).
    *
    * Scale shape: per level, one partial-aggregated groupBy over the QI
    * projection — the count table is bounded by the QI DOMAIN, not the
    * data, so Spark broadcasts it back (no fact-side shuffle; a window
    * count would range-exchange the whole table per level). Joins are
    * null-safe (`<=>`) so null QI values form their own group instead of
    * silently failing the lookup. */
  def kAnonymizeLadder(df: DataFrame, k: Int,
      levels: Seq[Seq[(String, Column)]], suppressed: String = "*"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(levels.nonEmpty, "need at least one generalization level")
    val names = levels.head.map(_._1)
    require(levels.forall(_.map(_._1) == names),
      "every level must emit the same QI output names")
    var d = df
    levels.zipWithIndex.foreach { case (lvl, i) =>
      val cnt = df
        .groupBy(lvl.map { case (n, c) => c.cast("string").as(s"__ka_k${i}_$n") }: _*)
        .agg(count(lit(1)).as(s"__ka_n$i"))
      val cond = lvl.map { case (n, c) => c.cast("string") <=> cnt(s"__ka_k${i}_$n") }
        .reduce(_ && _)
      // explicit broadcast: the count table is bounded by the QI DOMAIN
      // by contract, but the static planner cannot know an aggregate's
      // cardinality and would stage a sort-merge prelude that AQE only
      // repairs at runtime — at 100 TB that prelude is a full fact-side
      // exchange per level, so the hint is the plan, not an optimization
      d = d.join(broadcast(cnt), cond, "left")
        .drop(lvl.map { case (n, _) => s"__ka_k${i}_$n" }: _*)
    }
    val lvlExpr = levels.indices.foldRight(lit(levels.size): Column) { (i, coarser) =>
      when(col(s"__ka_n$i") >= k, lit(i)).otherwise(coarser)
    }
    d = d.withColumn("anon_level", lvlExpr)
    names.zipWithIndex.foreach { case (n, j) =>
      val value = levels.indices.foldRight(lit(suppressed): Column) { (i, coarser) =>
        when(col("anon_level") === i, levels(i)(j)._2.cast("string")).otherwise(coarser)
      }
      d = d.withColumn(n, value)
    }
    d.drop(levels.indices.map(i => s"__ka_n$i"): _*)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007): k-anonymity alone
    * fails to the HOMOGENEITY attack — a crowd of k rows that all share
    * the same sensitive value still discloses it. Each QI group must also
    * carry at least `l` DISTINCT sensitive values. One map-combined
    * aggregation; the count-distinct buffer per group is bounded by the
    * sensitive domain (swap in approx_count_distinct at 100 TB if the
    * sensitive attribute is high-cardinality — the audit then flags
    * conservatively within HLL error). Null sensitive values are ignored
    * by count-distinct in any engine — an all-null group audits as
    * diversity 0, i.e. maximally at risk, which is the safe reading. */
  def lDiversityAudit(df: DataFrame, qi: Seq[(String, Column)],
      sensitive: Column, l: Int): DataFrame = {
    require(l >= 1, s"l must be >= 1, got $l")
    df.groupBy(qi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(sensitive).as("distinct_sensitive"))
      .withColumn("at_risk", col("distinct_sensitive") < l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) for an ORDINAL
    * sensitive attribute: l-diversity still leaks when a group's sensitive
    * DISTRIBUTION skews far from the table's (a crowd with 3 distinct but
    * all-low salaries discloses "low"). The distance is the Earth Mover's
    * Distance under the ordered-distance metric — for an ordinal domain of
    * B bands this is Σ|cumQ - cumP| / (B - 1), the closed form from the
    * paper.
    *
    * Plan shape: two map-combined aggregations (per-group-per-band and
    * global-per-band counts), then the EMD on the GROUPS × BANDS grid —
    * post-aggregation data bounded by domain sizes, never by rows, so the
    * band frames broadcast and the cross join that zero-fills missing
    * (group, band) cells (EMD needs full support: a band absent from a
    * group is probability 0, not an absent row) is a broadcast
    * nested-loop over grid-sized inputs. Fractions are int/int IEEE
    * divisions and the cum-sum spans ≤ B terms, so `round(·, 6)` is
    * engine-stable. */
  def tClosenessAudit(df: DataFrame, qi: Seq[(String, Column)],
      sensitiveBand: Column, t: Double): DataFrame = {
    require(t > 0.0 && t < 1.0, s"t must be in (0, 1), got $t")
    val qiNames = qi.map(_._1)
    val base = df.select(qi.map { case (n, c) => c.as(n) } :+
      sensitiveBand.as("__band"): _*)
    val perCell = base.groupBy((qiNames.map(col) :+ col("__band")): _*)
      .agg(count(lit(1)).as("__gc"))
    val perBand = base.groupBy(col("__band")).agg(count(lit(1)).as("__bc"))
    val groups = perCell.groupBy(qiNames.map(col): _*).agg(sum(col("__gc")).as("__n"))
    val bands = perBand.crossJoin(perBand.agg(sum(col("__bc")).as("__total"),
      count(lit(1)).as("__nbands")))
    // full-support grid: every (group, band) cell, zero-filled
    val grid = groups.crossJoin(broadcast(bands))
      .join(perCell, qiNames :+ "__band", "left")
      .withColumn("__gc", coalesce(col("__gc"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiNames.map(col): _*).orderBy(col("__band"))
    grid
      .withColumn("__cum_q", sum(col("__gc")).over(w).cast("double") / col("__n"))
      .withColumn("__cum_p", sum(col("__bc")).over(w).cast("double") / col("__total"))
      .groupBy((qiNames.map(col) :+ col("__n").as("group_size")): _*)
      .agg(round(sum(abs(col("__cum_q") - col("__cum_p"))) /
        (max(col("__nbands")) - lit(1L)), 6).as("emd"))
      .withColumn("at_risk", col("emd") > t)
  }

  // -------------------------------------------------------------------
  // Differentially-private count release
  // -------------------------------------------------------------------

  /** Number of quantization buckets for the noise table: noise is drawn
    * by inverse-CDF at the 256 bucket midpoints, so each table entry is
    * the exact geometric-mechanism quantile for its 1/256-wide slice. */
  val DpQuantBuckets = 256

  /** Quantized inverse CDF of the TWO-SIDED GEOMETRIC distribution with
    * ratio α = e^(-ε) — the geometric mechanism of Ghosh, Roughgarden &
    * Sundararajan (STOC 2009), the discrete (and for counts, utility-
    * optimal) twin of Laplace noise: P(n) = (1−α)/(1+α)·α^|n|. Entry k is
    * the smallest n with CDF(n) ≥ (k+0.5)/buckets. The table is tiny
    * integers (ε = 1 ⇒ range ≈ ±6), computed once on the driver; the
    * doubles involved never leave the driver, so engine-portability of
    * `exp`/`pow` is irrelevant — both release and oracle consume the SAME
    * integer literals. */
  def geometricNoiseTable(epsilon: Double, buckets: Int = DpQuantBuckets): IndexedSeq[Int] = {
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    val alpha = math.exp(-epsilon)
    val c = (1 - alpha) / (1 + alpha)
    val span = 64 // CDF mass beyond |64| is ~alpha^64, below any bucket edge
    (0 until buckets).map { k =>
      val u = (k + 0.5) / buckets
      var cdf = 0.0
      var n = -span
      var ans = span
      var found = false
      while (n <= span && !found) {
        cdf += c * math.pow(alpha, math.abs(n))
        if (cdf >= u) { ans = n; found = true }
        n += 1
      }
      ans
    }
  }

  /** ε-differentially-private group-count release: per-group counts plus
    * geometric-mechanism noise (sensitivity 1 — one individual moves one
    * count by one), clamped at 0 (post-processing, which never weakens
    * DP). Noise is drawn DETERMINISTICALLY per group key from the
    * md5-prefix hash family — the "sticky noise" discipline real count-
    * release systems use so re-running the same release replays the same
    * noise instead of handing an attacker fresh draws to average away
    * (and what lets the SQL oracle replay the release bit-for-bit; a
    * production deployment rotates `seed` per release period, NOT per
    * run). Scale: one map-side-combined aggregation; the noise lookup is
    * a 256-literal array projection, no second scan, no shuffle beyond
    * the count's own. */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
      seed: String): DataFrame = {
    val table = geometricNoiseTable(epsilon)
    val key = concat_ws(":", groupCols.map(c => col(c).cast("string")): _*)
    val idx = (graft.functions.HashFunctions
      .md5PrefixLong(seed, key, 8) % table.size).cast("int")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__true_count"))
      .select(groupCols.map(col) ++ Seq(
        greatest(col("__true_count") +
          element_at(array(table.map(lit): _*), idx + 1), lit(0L))
          .as("noisy_count"),
        lit(epsilon).as("epsilon")): _*)
  }

  /** Right-to-be-forgotten erasure-propagation audit: given, per table, a
    * frame of keys slated for deletion (the caller derives CASCADED key
    * sets — e.g. the order keys of erased customers — so the FK chain is
    * explicit in the plan, not hidden in this operator), report how many
    * rows each table would lose and keep. This is the scoping report a
    * GDPR/CCPA deletion job publishes BEFORE the destructive pass, and
    * re-runs after it expecting affected_rows = 0.
    *
    * Each table entry is (name, table, keyCol, eraseKeys) where eraseKeys
    * is a single-column frame (any column name; duplicates fine — it is
    * distinct'd here).
    *
    * Scale: per table ONE keys-only scan (the join reads just keyCol —
    * column pruning reaches the parquet footer) left-joined against the
    * distinct'd key set, then one map-combined conditional count; no
    * second per-table pass for totals, no broadcast assumption (at 100 TB
    * an erase set can be millions of subjects — the equi-join shuffles
    * keys only, and Spark still broadcasts it when it IS small). */
  def erasureAudit(tables: Seq[(String, DataFrame, String, DataFrame)]): DataFrame = {
    require(tables.nonEmpty, "need at least one table to audit")
    tables.map { case (name, df, keyCol, eraseKeys) =>
      val keys = eraseKeys
        .select(eraseKeys.columns.head).distinct()
        .withColumnRenamed(eraseKeys.columns.head, keyCol)
        .withColumn("__hit", lit(1))
      df.select(col(keyCol))
        .join(keys, Seq(keyCol), "left")
        .agg(
          sum(when(col("__hit") === 1, 1L).otherwise(0L)).as("affected_rows"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("retained_rows"))
        .select(lit(name).as("table_name"),
          col("affected_rows"), col("retained_rows"))
    }.reduce(_ unionByName _)
  }
}
