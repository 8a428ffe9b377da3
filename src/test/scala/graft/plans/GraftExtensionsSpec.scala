package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL surface of the native expressions: the functions the session
  * factory installs must be callable from spark.sql and agree exactly
  * with the DataFrame API. */
class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions match the DataFrame-API expressions") {
    import spark.implicits._
    // the factory session (and a newSession clone of it) resolves the
    // functions with no registration call
    Seq(spark, spark.newSession()).foreach(s =>
      assert(s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_bands"))))
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    df.createOrReplaceTempView("ext_docs")

    val sqlBands = spark.sql(
      "SELECT minhash_bands(char_shingles(text, 5), 128, 16) AS b FROM ext_docs")
      .as[Seq[Long]].head()
    val apiBands = df.select(
      NativeExpressions.minhashBands(
        NativeExpressions.charShingles(col("text"), 5), 128, 16).as("b"))
      .as[Seq[Long]].head()
    assert(sqlBands == apiBands)
    assert(sqlBands.length == 16)

    val sqlSim = spark.sql(
      "SELECT simhash64(word_shingles(text, 1)) AS fp FROM ext_docs").as[Long].head()
    val apiSim = df.select(ColumnBridge.column(SimHash64(ColumnBridge.expression(
      NativeExpressions.wordShingles(col("text"), 1)))).as("fp"))
      .as[Long].head()
    assert(sqlSim == apiSim)

    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").as[Double].head()
    assert(cos == 1.0)
    val eu = spark.sql(
      "SELECT euclidean_distance(array(0.0d, 3.0d), array(4.0d, 0.0d)) AS e").as[Double].head()
    assert(eu == 5.0)

    val jw = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS j").as[Double].head()
    assert(jw == 0.9611111111111111)
    val ent = spark.sql(
      "SELECT char_entropy('aabb').n_cp AS n, char_entropy('aabb').ent_unats AS e")
      .as[(Long, Long)].head()
    assert(ent == ((4L, 693148L)))
  }

  test("sketch parameters must be integer literals") {
    val ex = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('a'), length('xx')) AS s").collect()
    }
    assert(ex.getMessage.contains("integer literal"))
  }

  test("FuseSimHashTokenize rewrites the naive composition, preserving results") {
    val rows = Seq((1L, "The Quick Brown fox"), (2L, ""), (3L, "  \t "),
      (4L, "a  b\tc\nd a b"), (5L, "Hello, WORLD! hello, world!"), (6L, "x"))
    // the naive SQL composition of primitives
    val naiveSql =
      """SELECT id, simhash64(filter(split(lower(text), '\\s+'), t -> t != '')) AS fp
        |FROM fuse_docs""".stripMargin
    def naiveIn(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      // an RDD source, not a LocalRelation: the optimizer would fold a
      // projection over local rows into constants before the rule runs
      s.sparkContext.parallelize(rows, 1).toDF("id", "text")
        .createOrReplaceTempView("fuse_docs")
      s.sql(naiveSql)
    }
    val naive = naiveIn(spark)
    val analyzed = naive.queryExecution.analyzed
    val rewritten = FuseSimHashTokenize(analyzed)
    // the rule fires on the analyzed plan and removes the composition
    assert(rewritten.expressions.map(_.toString).mkString.contains("simhash_text"))
    assert(!rewritten.expressions.exists(_.exists(_.isInstanceOf[SimHash64])))
    // the factory session runs the rule by default
    val optimized = naive.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[SimHashText])))
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[SimHash64])))
    // the unfused composition runs in a clone with the rule excluded; the
    // fused form the rule produces must match it, including token-less
    // rows (coalesce turns the fused NULL into the composition's
    // empty-vote fingerprint 0)
    val ref = spark.newSession()
    ref.conf.set("spark.sql.optimizer.excludedRules", FuseSimHashTokenize.ruleName)
    val unfused = naiveIn(ref)
    val unfusedPlan = unfused.queryExecution.optimizedPlan
    assert(unfusedPlan.expressions.exists(_.exists(_.isInstanceOf[SimHash64])))
    assert(!unfusedPlan.expressions.exists(_.exists(_.isInstanceOf[SimHashText])))
    import spark.implicits._
    val a = unfused.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fused = spark.sql(
      "SELECT id, coalesce(simhash_text(text), 0L) AS fp FROM fuse_docs")
    val b = fused.orderBy("id").as[(Long, Long)].collect().toSeq
    val c = naive.orderBy("id").as[(Long, Long)].collect().toSeq
    assert(a == b)
    assert(a == c)
    assert(a.filter(r => r._1 == 2L || r._1 == 3L).forall(_._2 == 0L))
    assert(a.filter(r => r._1 != 2L && r._1 != 3L).forall(_._2 != 0L))
    // a different split pattern must NOT be rewritten
    val other = spark.sql(
      """SELECT simhash64(filter(split(lower(text), ','), t -> t != '')) AS fp
        |FROM fuse_docs""".stripMargin)
    val untouched = FuseSimHashTokenize(other.queryExecution.analyzed)
    assert(untouched.expressions.exists(_.exists(_.isInstanceOf[SimHash64])))
  }

  test("extensions class injects the same functions into a fresh config") {
    // the class is instantiable and applies cleanly to an extensions object
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }
}
