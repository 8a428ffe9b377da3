package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and ordering for training-data
  * pipelines. Everything keys off `md5(key)` hex prefixes — uniform,
  * seedable (prefix the key), reproducible across engines (md5 hex is
  * identical in Spark, DuckDB, Python, …), and embarrassingly parallel:
  * a sample decision is a per-row projection, never a shuffle.
  *
  * Contrast with `df.sample()`: Spark's sampler is seeded per-partition, so
  * the kept set changes whenever partitioning changes — useless for
  * reproducible corpus construction at 100 TB where partition counts move
  * with the data. Hash-gating is stable under any layout.
  */
object Sampling {

  private val Hex8 = 0x100000000L // 16^8 — space of an 8-hex-char prefix

  /** `fraction` as an 8-hex-char upper bound, e.g. 0.25 -> "40000000".
    * Fraction 1.0 returns "g" — lexicographically above every hex string,
    * so keep-all really keeps ALL rows (a "ffffffff" bound with a strict
    * `<` would silently drop the 2^-32 of rows whose prefix is exactly
    * "ffffffff" — hundreds of rows at trillion-row scale). */
  private def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    if (fraction >= 1.0) "g" else f"${(fraction * Hex8).toLong}%08x"
  }

  /** The md5-prefix gate value for a key (shared by every sampler so the
    * family stays mutually consistent). NULL keys hash a sentinel instead
    * of null-propagating: otherwise keep-all sampling would silently drop
    * null-key rows while splitAssign's otherwise-branch routed the same
    * rows into the LAST split — inconsistent family semantics. The DuckDB
    * oracles apply the same coalesce. */
  private def saltedKey(key: Column, seed: String): Column =
    concat(lit(seed), coalesce(key.cast("string"), lit("\u0000null")))

  private def gateValue(key: Column, seed: String): Column =
    substring(md5(saltedKey(key, seed)), 1, 8)

  /** The gate column: first 8 hex chars of md5(seed:key), lexicographically
    * below the fraction's threshold. Lowercase-hex compare == numeric
    * compare, and both Spark and DuckDB emit lowercase md5 hex. */
  def hashGate(key: Column, fraction: Double, seed: String = ""): Column =
    gateValue(key, seed) < lit(hexThreshold(fraction))

  /** Keep a deterministic `fraction` of rows, decided per-row by key hash.
    * Narrow (no shuffle, no state); the same rows survive at any
    * partitioning, scale factor, or engine. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double, seed: String = ""): DataFrame =
    df.where(hashGate(col(keyCol), fraction, seed))

  /** COLUMN-valued gate — the [[hashGate]] family extended to
    * data-derived per-row keep rates (a stratum's rate computed from its
    * count, a quality-tiered rate...). The 32-bit md5 prefix is compared
    * NUMERICALLY against `floor(fraction * 2^32)`, which sidesteps hex
    * re-formatting of a computed threshold entirely and keeps the
    * fraction >= 1.0 case exact for free (2^32 is above every prefix).
    * `fraction` must be derived engine-portably (int/int IEEE divisions)
    * for the oracle to replay the gate. */
  def hashGateCol(key: Column, fraction: Column, seed: String = ""): Column =
    conv(substring(md5(saltedKey(key, seed)), 1, 8), 16, 10).cast("long") <
      floor(fraction * lit(Hex8.toDouble)).cast("long")

  /** EQUAL-ALLOCATION stratified sample: every stratum is hash-gated at
    * rate = |smallest stratum| / |its own stratum|, so each stratum keeps
    * ~the same EXPECTED number of rows — the class-balancing sampler a
    * training mix uses when one language/source dwarfs the rest (the
    * fixed-weights variant is [[mixtureSample]]; here the rates come from
    * the DATA). Two tiny broadcast joins (stratum counts + the 1-row
    * minimum) over one narrow pass; the gate itself never shuffles.
    * Deterministic: same keys survive at any partitioning or engine. */
  def stratifiedEqualAllocation(df: DataFrame, keyCol: String,
      stratumCol: String, seed: String = ""): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n_s"))
    val target = counts.agg(min(col("__n_s")).as("__t"))
    df.join(broadcast(counts), Seq(stratumCol))
      .crossJoin(broadcast(target))
      .where(hashGateCol(col(keyCol),
        col("__t").cast("double") / col("__n_s").cast("double"), seed))
      .drop("__n_s", "__t")
  }

  /** Weighted corpus mixture: per-stratum keep-fractions (e.g. upsample
    * wiki, downsample crawl), default fraction for unlisted strata. One
    * narrow pass — the per-row gate threshold is a CASE over the stratum
    * column, so mixing N corpora costs the same as reading them. */
  def mixtureSample(
      df: DataFrame, keyCol: String, stratumCol: String,
      weights: Map[String, Double], defaultFraction: Double = 1.0,
      seed: String = ""): DataFrame = {
    val threshold = weights.toSeq.sortBy(_._1).foldRight(
      lit(hexThreshold(defaultFraction)): Column) { case ((stratum, f), acc) =>
      when(col(stratumCol) === stratum, lit(hexThreshold(f))).otherwise(acc)
    }
    df.where(gateValue(col(keyCol), seed) < threshold)
  }

  /** Deterministic train/val/test split: each row is assigned the first
    * split whose cumulative hash-range contains its key hash. Stable under
    * any partitioning/scale (a doc keeps its split when the corpus grows),
    * narrow, engine-portable. `splits` are (name, weight) in priority
    * order; weights must sum to 1 (±1e-9) and the last split absorbs the
    * hash-range remainder so every row is assigned. */
  def splitAssign(
      df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
      seed: String = "", splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val gate = gateValue(col(keyCol), seed)
    val cum = splits.init.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val assigned = splits.init.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cumW), acc) =>
        when(gate < lit(hexThreshold(cumW)), lit(name)).otherwise(acc)
    }
    df.withColumn(splitCol, assigned)
  }

  /** Per-stratum quota: keep at most `maxPerStratum` rows per stratum,
    * chosen by hash order (md5 gate value, key as tie-break) so the kept
    * set is a stable pseudo-random draw — the "cap any one domain's share
    * of the corpus" operation. Unlike a fraction-based gate the quota is
    * exact, so it needs a per-stratum rank: one shuffle on the stratum
    * key, with the rank-filter form letting InferWindowGroupLimit bound
    * each stratum's sort to the quota after the exchange. */
  def quotaSample(df: DataFrame, keyCol: String, stratumCol: String,
      maxPerStratum: Int, seed: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerStratum > 0, s"maxPerStratum must be positive, got $maxPerStratum")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(gateValue(col(keyCol), seed), col(keyCol))
    df.withColumn("__qrank", row_number().over(w))
      .where(col("__qrank") <= maxPerStratum)
      .drop("__qrank")
  }

  /** Deterministic global shuffle for training order: every row gets a
    * stable pseudo-random position 0..n-1 (order by md5(seed:key), key as
    * tie-break for md5-prefix collisions).
    *
    * Scale shape: the md5 hex prefix is uniform, so a 16-bit bucket (first
    * 4 hex chars) splits the global order into 65,536 contiguous,
    * near-equal ranges. Position = (rows in earlier buckets) + (rank
    * within bucket). Bucket counts are a map-side-combined aggregate
    * (≤65,536 rows cross the wire regardless of corpus size; the
    * cumulative-offset window runs over those counts only), broadcast back
    * onto the corpus; the within-bucket rank is one hash exchange on the
    * bucket plus a spillable per-bucket sort (~1/65,536 of the data each —
    * ~1.5 GB per bucket at 100 TB). The data is never range-sampled,
    * never persisted, and crosses the wire exactly once. This replaced a
    * sort + `zipWithIndex` design whose persisted RDD (needed to bridge
    * zipWithIndex's eager size job and the consumer's action) leaked a
    * full copy of the corpus into the block-manager per call until LRU
    * eviction.
    *
    * Ordering by (bucket, hash, key) equals ordering by (hash, key)
    * globally because the bucket IS the hash's leading prefix. Rows with
    * duplicate keys tie on both sort columns; their relative order is
    * unspecified (as it was under the distributed sort). */
  def shuffleOrder(df: DataFrame, keyCol: String, seed: String = "",
      posCol: String = "position"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withKey = df
      .withColumn("__sk", md5(saltedKey(col(keyCol), seed)))
      .withColumn("__bkt", conv(substring(col("__sk"), 1, 4), 16, 10).cast("int"))
    // the count scan prunes to keyCol only; the offset window is a
    // single-partition pass over ≤65,536 count rows, not over data
    val offsets = withKey.groupBy(col("__bkt")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__bkt"), col("__off"))
    val wB = Window.partitionBy(col("__bkt")).orderBy(col("__sk"), col(keyCol))
    withKey
      .join(broadcast(offsets), Seq("__bkt"))
      .withColumn(posCol, col("__off") + row_number().over(wB).cast("long") - 1L)
      .drop("__bkt", "__sk", "__off")
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement: keep the
    * k rows maximizing `ln(u) / w` where `u ∈ (0,1]` derives from the
    * row's key hash — equivalent to ranking by `u^(1/w)`, so a row's
    * inclusion probability is proportional to its weight (the one-pass,
    * merge-friendly weighted reservoir; Inf. Proc. Letters 97(5), 2006).
    * The uniform comes from the same md5 family as every sampler here:
    * 60 bits of the hash as an integer, `(v+1) / 2^60` — never 0, so
    * ln() is finite; 2^60 is exactly representable as a double, so the
    * division is one exact IEEE op in any engine.
    *
    * Determinism: same hash → same u; ln() may differ in the last ULP
    * across libms, which can only matter if two DIFFERENT rows' scores
    * collide to within 1 ulp (vanishing — scores differ in high bits).
    * Weights must be > 0.
    *
    * Scale: narrow projection + TakeOrdered (per-partition heap of k,
    * merged on the driver) — no shuffle, no state; the same plan at any
    * corpus size. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column, k: Int,
      seed: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(md5(saltedKey(col(keyCol), seed)), 1, 15), 16, 10)
      .cast("long").cast("double") + lit(1.0d)) /
      lit(1152921504606846976L).cast("double")
    df.withColumn("__es_key", log(u) / weight.cast("double"))
      .orderBy(col("__es_key").desc, col(keyCol).asc)
      .limit(k)
      .drop("__es_key")
  }

  /** SIZE-BALANCED shard assignment by snake draft (boustrophedon
    * first-fit on the size-sorted order): rank rows by (size desc, id),
    * then deal rank r to shard `r % n` on even rounds and `n-1 - r % n`
    * on odd rounds. For any size distribution the per-shard totals differ
    * by at most one max-size item — the classic guarantee that makes
    * training shards load-balance across data-parallel workers, where the
    * naive `id % n` deal leaves heavy-tailed shards (one shard catches
    * several giant docs and becomes the epoch straggler).
    *
    * Deterministic (exact global rank with an id tiebreak — any engine
    * deals the same hands), and single-reducer-free: the rank comes from
    * [[graft.operators.GlobalRank]], the deal is per-row integer
    * arithmetic. One range exchange total. */
  def balancedShards(df: DataFrame, idCol: String, size: Column, n: Int): DataFrame = {
    require(n >= 1, s"shard count must be >= 1, got $n")
    val ranked = graft.operators.GlobalRank.withGlobalRank(
      df, Seq(size.desc, col(idCol).asc), "__brank")
    // `div`, not `/`: Spark's / on longs is DOUBLE division
    val round = expr(s"__brank div ${n.toLong}L")
    val pos = col("__brank") % n
    ranked
      .withColumn("shard",
        when(round % 2 === 0, pos).otherwise(lit(n - 1) - pos).cast("int"))
      .drop("__brank")
  }

  /** PURGED, EMBARGOED temporal K-fold plan (the time-series
    * cross-validation discipline of López de Prado's purged k-fold): the
    * observed time axis `[min_ts, max_ts+1)` is cut into `k` equal-width
    * contiguous test windows; for each fold, rows inside the window are
    * TEST, rows at least `embargoUs` away from BOTH window edges are
    * TRAIN, and the two embargo margins are PURGED — dropped from both
    * sides so label windows / trailing features that straddle a fold
    * boundary (see q_label_window / q_rolling_features) cannot leak
    * test-period information into the training folds. Returns the audit
    * frame a release gate checks: per fold, the window bounds and the
    * exact test/train/purged row counts (test_n + train_n + purged_n =
    * total rows, every fold).
    *
    * Determinism: everything is exact integer micros arithmetic — window
    * bounds come from `lo + (span·fold) div k` (long `div`, identical to
    * DuckDB `//` for the non-negative operands here), counts are
    * conditional long sums. No doubles anywhere.
    *
    * Scale: one broadcast of the k-row bounds frame onto a single scan of
    * the input (the ×k row multiplication stays narrow and map-combines
    * into k groups before the one tiny exchange); the bounds themselves
    * need just a min/max agg. No window functions, no range exchange, no
    * driver collect. */
  def purgedTimeFolds(
      df: DataFrame, tsUs: Column, k: Int, embargoUs: Long): DataFrame = {
    require(k >= 2, s"fold count must be >= 2, got $k")
    require(embargoUs >= 0, s"embargo must be >= 0, got $embargoUs")
    val stats = df.agg(min(tsUs).as("__lo"), (max(tsUs) + lit(1L)).as("__hi"))
    val bounds = df.sparkSession.range(k).toDF("fold")
      .crossJoin(broadcast(stats))
      .selectExpr(
        "fold",
        s"__lo + ((__hi - __lo) * fold) div ${k.toLong}L AS test_lo_us",
        s"__lo + ((__hi - __lo) * (fold + 1)) div ${k.toLong}L AS test_hi_us")
    val us = col("__us")
    df.select(tsUs.as("__us"))
      .crossJoin(broadcast(bounds))
      .groupBy(col("fold"))
      .agg(
        max(col("test_lo_us")).as("test_lo_us"),
        max(col("test_hi_us")).as("test_hi_us"),
        sum(when(us >= col("test_lo_us") && us < col("test_hi_us"), 1L)
          .otherwise(0L)).as("test_n"),
        sum(when(us < col("test_lo_us") - lit(embargoUs) ||
          us >= col("test_hi_us") + lit(embargoUs), 1L)
          .otherwise(0L)).as("train_n"),
        count(lit(1)).as("__total"))
      .select(col("fold"), col("test_lo_us"), col("test_hi_us"),
        col("test_n"), col("train_n"),
        (col("__total") - col("test_n") - col("train_n")).as("purged_n"))
      .orderBy(col("fold"))
  }
}
