package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  test("withGlobalRank equals the single-reducer global row_number") {
    val rnd = new scala.util.Random(21)
    // heavy key duplication: the (k, id) tiebreak must make ranks exact
    val rows = (1 to 500).map(i => (rnd.nextInt(20).toLong, i.toLong))
    val df = rows.toDF("k", "id").repartition(9)
    val got = GlobalRank.withGlobalRank(df, Seq(col("k"), col("id")), "r",
        numPartitions = 11)
      .select("k", "id", "r").as[(Long, Long, Long)].collect().toSet
    val naive = df.withColumn("r",
        row_number().over(Window.orderBy(col("k"), col("id"))) - 1L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive)
  }

  test("withGlobalRank keeps every original column and handles descending keys") {
    val df = Seq((5L, "a"), (9L, "b"), (1L, "c"), (9L, "a"))
      .toDF("score", "tag")
    val out = GlobalRank.withGlobalRank(df,
        Seq(col("score").desc, col("tag")), "r", numPartitions = 3)
      .as[(Long, String, Long)].collect().toSet
    // order: (9,a)=0, (9,b)=1, (5,a)=2, (1,c)=3
    assert(out == Set((9L, "a", 0L), (9L, "b", 1L), (5L, "a", 2L), (1L, "c", 3L)))
  }

  test("reliable checkpoint path yields identical ranks and fails loudly without a dir") {
    val rows = (1 to 200).map(i => ((i * 7 % 31).toLong, i.toLong))
    val df = rows.toDF("k", "id").repartition(7)
    // no checkpoint dir set -> the reliable path must fail AT PLANNING,
    // not as a mid-job task failure
    val prior = spark.sparkContext.getCheckpointDir
    if (prior.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        GlobalRank.withGlobalRank(df, Seq(col("k"), col("id")), "r", reliable = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val dir = tempDir("grk_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val fast = GlobalRank.withGlobalRank(df, Seq(col("k"), col("id")), "r",
          numPartitions = 5)
        .select("k", "id", "r").as[(Long, Long, Long)].collect().toSet
      val safe = GlobalRank.withGlobalRank(df, Seq(col("k"), col("id")), "r",
          numPartitions = 5, reliable = true)
        .select("k", "id", "r").as[(Long, Long, Long)].collect().toSet
      assert(safe == fast)
    } finally {
      graft.etl.Context.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("withGlobalRank with more partitions than rows stays exact") {
    val df = Seq((3L, 1L), (1L, 2L), (2L, 3L)).toDF("k", "id")
    val out = GlobalRank.withGlobalRank(df, Seq(col("k"), col("id")), "r",
        numPartitions = 40)
      .select("k", "r").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("withGlobalCumSum equals the single-reducer exclusive prefix sum") {
    val rnd = new scala.util.Random(77)
    val rows = (1 to 400).map(i => (i.toLong, rnd.nextInt(1000).toLong))
    val df = rows.toDF("id", "v").repartition(7)
    val got = GlobalRank.withGlobalCumSum(df, Seq(col("id")), col("v"), "c",
        numPartitions = 9)
      .select("id", "v", "c").as[(Long, Long, Long)].collect().toSet
    val naive = df.withColumn("c",
        coalesce(sum(col("v")).over(
          Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive)
    // exclusive: the first row in key order sums nothing
    assert(got.find(_._1 == 1L).get._3 == 0L)
  }

  test("withGlobalCumSum with empty and tiny partitions stays exact") {
    val df = Seq((5L, 10L), (1L, 20L), (3L, 30L)).toDF("id", "v")
    val out = GlobalRank.withGlobalCumSum(df, Seq(col("id")), col("v"), "c",
        numPartitions = 40)
      .select("id", "c").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 3L -> 20L, 5L -> 50L))
  }

  test("withGlobalCumSums (multi-column, one pass) equals chained single-column calls") {
    val rnd = new scala.util.Random(909)
    val rows = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(100).toLong, rnd.nextInt(50).toLong))
    val df = rows.toDF("id", "a", "b").repartition(5)
    val onePass = GlobalRank.withGlobalCumSums(df, Seq(col("id")),
        Seq(col("a") -> "ca", col("b") -> "cb"), numPartitions = 8)
      .select("id", "ca", "cb").as[(Long, Long, Long)].collect().toSet
    val chained = GlobalRank.withGlobalCumSum(
        GlobalRank.withGlobalCumSum(df, Seq(col("id")), col("a"), "ca", numPartitions = 8),
        Seq(col("id")), col("b"), "cb", numPartitions = 8)
      .select("id", "ca", "cb").as[(Long, Long, Long)].collect().toSet
    assert(onePass == chained)
    // NULL contributes 0 but still receives a cum value (shared contract)
    val withNull = Seq((1L, Some(5L), 7L), (2L, None, 3L), (3L, Some(2L), 1L))
      .toDF("id", "a", "b")
    val n = GlobalRank.withGlobalCumSums(withNull, Seq(col("id")),
        Seq(col("a") -> "ca", col("b") -> "cb"), numPartitions = 4)
      .select("id", "ca", "cb").as[(Long, Long, Long)].collect()
      .map { case (id, ca, cb) => id -> ((ca, cb)) }.toMap
    assert(n == Map(1L -> ((0L, 0L)), 2L -> ((5L, 7L)), 3L -> ((5L, 10L))))
  }
}
