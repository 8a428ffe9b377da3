package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-basket rule mining over (group, item) co-occurrence — the
  * classic association-rules surface (Agrawal et al., VLDB '94 semantics
  * restricted to pairwise rules, which is what co-purchase / co-citation /
  * co-click analytics actually deploy): for every ordered item pair
  * (antecedent → consequent) co-occurring in at least `minShared` groups,
  *
  *   confidence = supp(a,b) / supp(a)
  *   lift       = supp(a,b) · N / (supp(a) · supp(b))
  *
  * with all supports counted over DISTINCT (group, item) pairs and N =
  * number of (capped) groups.
  *
  * Scale shape (same discipline as
  * [[graft.graph.GraphOps.coOccurrencePairs]], whose capped basket
  * projection this reuses verbatim): the ONE quadratic step — the
  * per-group self-join — is bounded by `maxGroupSize` (a 256-item basket
  * says nothing about pairwise affinity; cap²/2 ≈ 32k rows per key
  * worst-case), so a single hot group cannot emit deg² pairs. Everything
  * else is linear: one distinct exchange on (g, i) whose partitioning the
  * group-size window AND both self-join sides reuse, one pair aggregation,
  * one item-support aggregation, and two equi-joins onto the (already
  * minShared-thresholded, hence much smaller) rule frame. N arrives as a
  * one-row broadcast cross join — no driver collect. Ratios are raw IEEE
  * long/long divisions (bit-identical across engines; no rounding). */
object MarketBasket {

  /** The capped DISTINCT basket projection (g, i) every rule metric is
    * counted over — the shared first stage (identical semantics to
    * coOccurrencePairs' projection). Exposed so callers can STAGE it
    * once (parquet/cache) when several derivations consume it: the
    * un-staged plan would otherwise replay the distinct + cap-window
    * pipeline for the pair join, each support side, and N. */
  def cappedBaskets(items: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 256): DataFrame = {
    require(maxGroupSize >= 2, s"maxGroupSize must be >= 2, got $maxGroupSize")
    items.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct()
      .withColumn("__gs", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("__gs") <= maxGroupSize)
      .select(col("g"), col("i"))
  }

  /** Rules from an already-capped (g, i) basket frame — see the object
    * doc for semantics. The quadratic pair aggregation runs ONCE: both
    * rule directions come from exploding each undirected pair into its
    * two orientations (an `unionAll` of two pair derivations would
    * re-run the self-join for each branch). */
  def associationRulesFromBaskets(g: DataFrame, minShared: Int = 2): DataFrame = {
    val nGroups = g.agg(countDistinct(col("g")).as("n_groups"))
    val supp = g.groupBy(col("i")).agg(count(lit(1)).as("supp"))
    val pairs = g.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("pa"), col("y.i").as("pb"))
      .agg(count(lit(1)).as("pair_supp")).where(col("pair_supp") >= minShared)
    // every undirected co-occurrence yields two candidate rules — one
    // explode over the SAME pair rows, not a second pair pipeline
    val directed = pairs.select(explode(array(
        struct(col("pa").as("antecedent"), col("pb").as("consequent")),
        struct(col("pb").as("antecedent"), col("pa").as("consequent")))).as("d"),
        col("pair_supp"))
      .select(col("d.antecedent").as("antecedent"),
        col("d.consequent").as("consequent"), col("pair_supp"))
    directed
      .join(supp.select(col("i").as("antecedent"), col("supp").as("ante_supp")), "antecedent")
      .join(supp.select(col("i").as("consequent"), col("supp").as("cons_supp")), "consequent")
      .crossJoin(broadcast(nGroups))
      .select(col("antecedent"), col("consequent"), col("pair_supp"),
        col("ante_supp"), col("cons_supp"), col("n_groups"),
        (col("pair_supp") / col("ante_supp").cast("double")).as("confidence"),
        // cast BEFORE multiplying: pair_supp*n_groups (and ante*cons) as
        // 64-bit products overflow silently at billion-row supports with
        // ANSI off; below 2^53 the double product is exact, so the ratio
        // is unchanged on any fixture the oracle replays
        ((col("pair_supp").cast("double") * col("n_groups")) /
          (col("ante_supp").cast("double") * col("cons_supp"))).as("lift"))
  }
}
