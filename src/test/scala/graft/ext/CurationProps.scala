package graft.ext

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Invariants of the round-4 curation operators (duplicate-line profile,
  * benchmark contamination) under arbitrary generated corpora. Small row
  * counts per case — each property runs real Spark jobs. */
object CurationProps extends Properties("Curation") {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(6)

  // word-soup documents: tokens from a small alphabet so cross-doc line and
  // gram collisions actually happen
  private val word: Gen[String] = Gen.oneOf("a", "bb", "ccc", "dog", "x1", "yz")
  private val doc: Gen[String] = for {
    n <- Gen.choose(0, 40)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ")

  private def docsDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  property("line profile: 0 <= dup lines <= lines, ratio consistent, token-less docs absent") =
    forAll(Gen.listOfN(12, doc), Gen.choose(1, 7)) { (texts, lineTokens) =>
      val out = Dedup.duplicateLineProfile(docsDf(texts), "doc_id", "text", lineTokens)
        .select("doc_id", "n_lines", "n_dup_lines", "dup_line_ratio")
        .collect()
      val tokenful = texts.count(_.trim.split("\\s+").exists(_.nonEmpty))
      out.length == tokenful && out.forall { r =>
        val (n, d, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
        n > 0 && d >= 0 && d <= n && math.abs(ratio - d.toDouble / n) < 1e-12
      }
    }

  property("line profile: duplicating the corpus under new ids makes EVERY line a dup") =
    forAll(Gen.listOfN(8, doc)) { texts =>
      import spark.implicits._
      val base = docsDf(texts)
      val copy = base.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      val out = Dedup.duplicateLineProfile(base.unionByName(copy), "doc_id", "text", 5)
        .select("n_lines", "n_dup_lines").as[(Long, Long)].collect()
      out.forall { case (n, d) => n == d }
    }

  property("contamination: overlap in [0,1]; bench-verbatim docs hit 1.0; flag matches overlap") =
    forAll(Gen.listOfN(10, doc), Gen.choose(0.05, 0.95)) { (texts, flagAt) =>
      import spark.implicits._
      val all = docsDf(texts)
      val bench = all.where(col("doc_id") < 3)
      val corpus = all.where(col("doc_id") >= 3)
        // plant one verbatim bench doc in the corpus (id 100)
        .unionByName(bench.limit(1).select(lit(100L).as("doc_id"), col("text")))
      val rows = TextAnalysis.benchmarkOverlap(corpus, bench, "doc_id", "text", 3, flagAt)
        .select("doc_id", "n_grams", "n_hit", "overlap", "contaminated")
        .collect()
      rows.forall { r =>
        val (ng, nh, ov, fl) = (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
        val bounds = nh >= 0 && nh <= ng && ov >= 0.0 && ov <= 1.0 && fl == (ov > flagAt)
        val plantedOk = r.getLong(0) != 100L || ng == 0 || ov == 1.0
        bounds && plantedOk
      }
    }

  property("cluster-keyed split NEVER leaks a near-dup pair across splits") =
    forAll(Gen.listOfN(10, doc), Gen.choose(0, 4)) { (texts, dupSeed) =>
      // plant guaranteed near-dups: append each text again under a new id
      // (exact copies are the adversarial case for a leaky split)
      val planted = texts ++ texts.take(dupSeed + 1)
      val docs = docsDf(planted)
      val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", 5, 64, 8, 0.5)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.resolveDuplicateClusters(pairs)
      val rep = docs.select(col("doc_id"))
        .join(clusters.select(col("id").as("doc_id"), col("keep_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keep_id"), col("doc_id")).as("rep_id"))
      val assign = Sampling.splitAssign(rep, "rep_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "sp")
      val cross = pairs
        .join(assign.select(col("doc_id").as("id_a"), col("split").as("s1")), "id_a")
        .join(assign.select(col("doc_id").as("id_b"), col("split").as("s2")), "id_b")
        .where(col("s1") =!= col("s2"))
      cross.count() == 0L
    }

  property("prefix-filter join EQUALS brute force on arbitrary word-soup corpora") =
    // thresholds include both extremes: t=1.0 collapses the asymmetric
    // INDEX prefix to a single token (sz - ceil(2t/(1+t)·sz) + 1 = 1) and
    // t=0.1 nearly removes pruning — the ceil-arithmetic boundary cases
    // of the round-10 PPJoin refinement
    forAll(Gen.listOfN(25, doc), Gen.oneOf(0.1, 0.3, 0.5, 0.7, 1.0)) { (texts, t) =>
      import graft.functions.{HashFunctions => H}
      import graft.plans.NativeExpressions
      // the lossless-filter claim, adversarially: tiny vocabulary means
      // heavy token sharing, many near-threshold pairs, and sets small
      // enough that prefix lengths hit their boundary cases
      val df = docsDf(texts)
      val got = Dedup.prefixPairsFromRanked(
          Dedup.dfRankedShingleDocs(df, "doc_id", "text", ngram = 3).localCheckpoint(true), t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val d = df.select(col("doc_id"),
          NativeExpressions.wordShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      val brute = d.as("a").selectExpr("doc_id AS id_a", "sh AS sh_a")
        .crossJoin(d.as("b").selectExpr("doc_id AS id_b", "sh AS sh_b"))
        .where(col("id_a") < col("id_b"))
        .where(H.jaccard(col("sh_a"), col("sh_b")) >= t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got == brute
    }

  property("hash-order prefix join EQUALS the df-ordered join on arbitrary corpora") =
    // the SSJoin lemma needs only SOME shared total order — the
    // (xxhash64, token) order must produce the IDENTICAL exact pair set
    // as the df-ascending order at every threshold, boundary thresholds
    // included (same ceil-arithmetic hazards as the df-ordered property)
    forAll(Gen.listOfN(25, doc), Gen.oneOf(0.1, 0.3, 0.5, 0.8, 1.0)) { (texts, t) =>
      val df = docsDf(texts)
      def pairSet(f: => org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        f.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      pairSet(Dedup.hashOrderJaccardPairs(df, "doc_id", "text",
          ngram = 3, threshold = t)) ==
        pairSet(Dedup.prefixPairsFromRanked(
          Dedup.dfRankedShingleDocs(df, "doc_id", "text", ngram = 3).localCheckpoint(true), t))
    }

  // profile drift of a snapshot against ITSELF is exactly zero in every
  // delta column — the null-rate/cardinality/length arithmetic has no
  // hidden asymmetry
  property("profileDriftSelfIsZero") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(0L, 30L),
        Gen.option(Gen.alphaNumStr.map(_.take(8)))))) { rows =>
      import spark.implicits._
      rows.nonEmpty ==> {
        val df = rows.toDF("id", "v")
        val d = graft.operators.Profile.profileDrift(df, df, Seq("id", "v")).collect()
        d.forall { r =>
          r.getAs[Double]("null_rate_delta") == 0.0 &&
          r.getAs[Long]("distinct_delta") == 0L &&
          (r.isNullAt(r.fieldIndex("avg_len_delta")) ||
            r.getAs[Double]("avg_len_delta") == 0.0)
        }
      }
    }

  // association-rule identities on arbitrary baskets: confidence in
  // (0, 1], lift symmetric across the two directions of a pair, and
  // support conservation (pair_supp <= min(ante_supp, cons_supp))
  property("assocRuleIdentities") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(1, 8), Gen.choose(1, 10)))) { rows =>
      import spark.implicits._
      rows.nonEmpty ==> {
        val items = rows.map { case (g, i) => (g, s"i$i") }.toDF("g", "i")
        val r = MarketBasket.associationRulesFromBaskets(
          MarketBasket.cappedBaskets(items, "g", "i", maxGroupSize = 256),
          minShared = 1).collect()
        val byPair = r.map(x => (x.getString(0), x.getString(1)) -> x).toMap
        r.forall { x =>
          val conf = x.getAs[Double]("confidence")
          val lift = x.getAs[Double]("lift")
          val rev = byPair(x.getString(1) -> x.getString(0))
          conf > 0 && conf <= 1.0 &&
          lift == rev.getAs[Double]("lift") &&
          x.getAs[Long]("pair_supp") <= math.min(
            x.getAs[Long]("ante_supp"), x.getAs[Long]("cons_supp"))
        }
      }
    }
}
