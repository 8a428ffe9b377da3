package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Bit-by-bit Morton reference: x on even bits, y on odd. */
  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("morton2 matches the bit-by-bit reference on random 16-bit points") {
    val rnd = new scala.util.Random(7)
    val pts = (1 to 500).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(ZOrder.morton2(col("x"), col("y")).as("z")).as[Long].collect()
    pts.zip(got).foreach { case ((x, y), g) =>
      assert(g == mortonRef(x, y), s"morton($x,$y)")
    }
    // wraparound contract: dims wider than 16 bits use their low 16
    val wide = Seq((65536L + 3L, 2L)).toDF("x", "y")
      .select(ZOrder.morton2(col("x"), col("y")).as("z")).as[Long].head()
    assert(wide == mortonRef(3L, 2L))
  }

  test("fileSkippingProfile buckets cover compact boxes in BOTH dimensions") {
    // 64x64 grid stretched across the full 16-bit domain: with 16 z-range
    // buckets, every bucket fixes the top 2 bits of x AND y, so each
    // min/max box spans at most a quarter (16384) of either dimension —
    // the property that lets file stats prune predicates on EITHER column
    val pts = for { i <- 0 until 64; j <- 0 until 64 }
      yield (i.toLong * 1040L, j.toLong * 1040L)
    val prof = ZOrder.fileSkippingProfile(
      pts.toDF("x", "y"), col("x"), col("y"), numBuckets = 16)
      .select("file_id", "n_rows", "min_x", "max_x", "min_y", "max_y")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(prof.map(_._1).toSet.size == 16)
    assert(prof.map(_._2).sum == 64L * 64L)
    prof.foreach { case (fid, _, x0, x1, y0, y1) =>
      assert(x1 - x0 < 16384, s"bucket $fid x-span ${x1 - x0}")
      assert(y1 - y0 < 16384, s"bucket $fid y-span ${y1 - y0}")
    }
    // a lexicographic (x, y) layout cannot do this: its 16 files each span
    // the ENTIRE y domain — verify the contrast on the same points
    val lexSpan = pts.toDF("x", "y")
      .withColumn("file_id", floor(col("x") / lit(4160))) // 16 x-slices
      .groupBy("file_id").agg((max("y") - min("y")).as("yspan"))
      .agg(min("yspan")).as[Long].head()
    assert(lexSpan > 16384, "lexicographic control should NOT bound the y span")
  }

  test("quantile ordinals split skewed data equal-frequency where fixed bins collapse") {
    // heavy-tailed values: 99% tiny, 1% huge — fixed-width binning puts
    // 99% of rows in ordinal 0; the rank ordinal spreads them uniformly
    val rnd = new scala.util.Random(13)
    val vals = (1L to 2048L).map(i =>
      (i, if (i % 100 == 0) 1e9 + rnd.nextInt(1000) else rnd.nextDouble()))
    val df = vals.toDF("id", "v").repartition(7)
    val ords = ZOrder.withQuantileOrdinal(df, Seq(col("v").asc, col("id").asc), "ord", bits = 4)
      .select("id", "ord").as[(Long, Long)].collect().toMap
    assert(ords.values.forall(o => o >= 0 && o < 16))
    val sizes = ords.values.groupBy(identity).map(_._2.size)
    assert(sizes.size == 16 && sizes.max == 128 && sizes.min == 128,
      s"equal-frequency violated: ${sizes.toSeq.sorted}")
    // input-order independence (total order via the id tiebreak)
    val ordsRev = ZOrder.withQuantileOrdinal(df.orderBy(col("id").desc),
      Seq(col("v").asc, col("id").asc), "ord", bits = 4)
      .select("id", "ord").as[(Long, Long)].collect().toMap
    assert(ords == ordsRev)
    // the fixed-width control on the same values: one bucket hoards >98%
    val fixedMax = df.select((col("v") * 16 / lit(1.1e9)).cast("long").as("b"))
      .groupBy("b").count().agg(max("count")).as[Long].head()
    assert(fixedMax > 2000, "control: fixed-width binning should collapse")
  }
}
