package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-dimensional data skipping —
  * the layout optimization behind Delta/Iceberg `OPTIMIZE ZORDER BY`: rows
  * close on the interleaved-bit curve are close in EVERY dimension, so
  * min/max file statistics prune selective predicates on either column,
  * not just the leading sort key of a lexicographic layout.
  *
  * Everything here is built from builtin bitwise functions — whole-stage
  * codegen'd, no UDF, and bit-for-bit replayable by any engine with
  * integer `& | << >>` (the DuckDB oracle of q_zorder does exactly that).
  *
  * At 100 TB this pairs with the write path: range partitioning on the
  * z-value (one exchange, AQE-coalescible) gives each output file one
  * compact z-range; the per-file min/max audit ([[fileSkippingProfile]])
  * is the evidence the layout skips.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` to the even bit positions (0, 2, 4, …)
    * — the classic mask-ladder bit twiddle, O(log bits) ops, codegen'd. */
  def spreadBits16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit dimensions: x on even bits, y on
    * odd. Dimensions wider than 16 bits wrap (`& 0xFFFF`) — callers
    * pre-bucket continuous domains to 16-bit ordinals (quantile ranks or
    * fixed-width bins) before interleaving, which is also what keeps the
    * curve distance meaningful for skewed domains. */
  def morton2(x: Column, y: Column): Column =
    spreadBits16(x).bitwiseOR(shiftleft(spreadBits16(y), 1))

  /** Rank-based (equal-frequency) ordinal for a CONTINUOUS or skewed
    * dimension: `ordinal = rank * 2^bits div n` over the exact global
    * rank. Fixed-width binning (`x * 2^bits div (max+1)`, the q_zorder
    * path) puts most of a skewed domain into a few cells and the curve
    * degenerates to a 1-D sort; the quantile ordinal splits the DATA
    * uniformly by construction, whatever the value distribution — the
    * standard prep for z-ordering prices, timestamps, sizes.
    *
    * `sortCols` must be a total order (append unique tiebreaks) —
    * GlobalRank's contract — which also makes the ordinals, and any
    * layout audit over them, engine-replayable. One range exchange via
    * [[GlobalRank]]; n comes from the rank pass (no extra scan). */
  def withQuantileOrdinal(df: DataFrame, sortCols: Seq[Column],
      ordCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1, 16], got $bits")
    val (ranked, n) = GlobalRank.withGlobalRankAndCount(df, sortCols, "__zq_rank")
    ranked
      .withColumn(ordCol, expr(s"__zq_rank * ${1L << bits}L div ${n}L"))
      .drop("__zq_rank")
  }

  /** Data-skipping audit: assign each row to a fixed z-range bucket
    * (top `log2(numBuckets)` bits of the 32-bit code — a DETERMINISTIC
    * bucketing, unlike sampled range boundaries, so results are
    * engine-checkable) and report per-bucket row counts and min/max of
    * both dimensions — exactly the file-statistics table a scan planner
    * would prune against. numBuckets must be a power of two. */
  def fileSkippingProfile(df: DataFrame, x: Column, y: Column,
      numBuckets: Int): DataFrame = {
    require(numBuckets >= 1 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a power of two, got $numBuckets")
    val shift = 32 - java.lang.Integer.numberOfTrailingZeros(numBuckets)
    df.select(shiftright(morton2(x, y), shift).as("file_id"),
        x.cast("long").as("__x"), y.cast("long").as("__y"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("__x")).as("min_x"), max(col("__x")).as("max_x"),
        min(col("__y")).as("min_y"), max(col("__y")).as("max_y"))
  }
}
