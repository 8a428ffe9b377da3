package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the event-history operators (q_scd2,
  * q_event_dedup) over the real sf0.001 events — properties the oracle
  * hash-match cannot express (it proves engine agreement, not that the
  * intervals form a valid history). */
class EventOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("scd2 intervals tile each user's timeline: ordered, non-overlapping, exhaustive") {
    val events = graft.sources.Tables.read(spark, dir, "events")
    val iv = SparkEntry.queries("q_scd2")(spark, dir).cache()
    try {
      // every event is inside exactly one run: run event counts sum to the log
      assert(iv.agg(sum("n_events")).head.getLong(0) == events.count())
      // exactly one open (current) interval per user
      val open = iv.where(col("is_current")).groupBy("user_id").count()
      assert(open.where(col("count") =!= 1).isEmpty)
      // closed intervals are strictly ordered: valid_from < valid_to, and
      // valid_to equals the NEXT interval's valid_from (half-open tiling)
      assert(iv.where(col("valid_to").isNotNull &&
        col("valid_from") >= col("valid_to")).isEmpty)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
      val gaps = iv.withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .where(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"))
      assert(gaps.isEmpty, "intervals must tile with no gap or overlap")
      // consecutive intervals never share a state (runs were collapsed)
      val same = iv.withColumn("next_state", lead(col("state"), 1).over(w))
        .where(col("next_state").isNotNull && col("state") === col("next_state"))
      assert(same.isEmpty, "adjacent intervals with equal state = uncollapsed run")
    } finally { iv.unpersist(); () }
  }

  test("event debounce keeps first-of-burst and everything it dropped is within the window") {
    val kept = SparkEntry.queries("q_event_dedup")(spark, dir)
    val events = graft.sources.Tables.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val dropped = events.join(kept.select("event_id"), Seq("event_id"), "left_anti")
    // every dropped event has a SAME-TYPE same-user event within 10min before it
    val withPrev = dropped.as("d").join(events.as("e"),
        col("d.user_id") === col("e.user_id") &&
        col("d.event_type") === col("e.event_type") &&
        (graft.sources.Tables.tsMicros(col("d.ts")) -
          graft.sources.Tables.tsMicros(col("e.ts"))).between(0L, 600000000L) &&
        col("d.event_id") =!= col("e.event_id"))
      .select(col("d.event_id")).distinct()
    assert(withPrev.count() == dropped.count(),
      "a dropped event had no same-type predecessor inside the debounce window")
    // and the earliest event of every (user, type) group always survives
    val first = events.groupBy("user_id", "event_type").agg(min("ts").as("ts"))
    assert(first.join(kept, Seq("user_id", "event_type", "ts"), "left_semi").count()
      == first.count())
  }

  test("transition matrix rows are proper distributions over the full event mass") {
    val events = graft.sources.Tables.read(spark, dir, "events")
    val tr = SparkEntry.queries("q_event_transitions")(spark, dir).cache()
    try {
      // each user's sequence contributes (len - 1) transitions
      val nUsers = events.select("user_id").distinct().count()
      assert(tr.agg(sum("n")).head.getLong(0) == events.count() - nUsers)
      // every row of the matrix sums to 1 (within float accumulation)
      val rows = tr.groupBy("prev_type").agg(sum("p").as("s")).collect()
      rows.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9,
        s"row ${r.get(0)} sums to ${r.getDouble(1)}"))
      // probabilities are positive and bounded
      assert(tr.where(col("p") <= 0 || col("p") > 1).isEmpty)
    } finally { tr.unpersist(); () }
  }

  test("three-step paths cover (len-2) windows per user and rank deterministically") {
    val events = graft.sources.Tables.read(spark, dir, "events")
    val paths = SparkEntry.queries("q_event_paths")(spark, dir).cache()
    try {
      assert(paths.count() <= 20)
      // every path is three '>'-joined known event types
      assert(paths.where(size(split(col("path"), ">")) =!= 3).isEmpty)
      // total 3-windows = sum over users of max(len-2, 0); top-20 of a
      // 125-path vocabulary must carry most of the mass — sanity-bound it
      val totalWindows = events.groupBy("user_id").count()
        .select(sum(greatest(col("count") - 2, lit(0L)))).head.getLong(0)
      val top = paths.agg(sum("n")).head.getLong(0)
      assert(top <= totalWindows && top > 0)
    } finally { paths.unpersist(); () }
  }

  test("pattern match: view->purchase within 1h with no intervening click") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
    val events = Seq(
      // u1: view then purchase 30 min later, no click -> MATCH
      (1L, "u1", "view", at(0)),
      (2L, "u1", "purchase", at(30)),
      // u2: view, click, purchase -> click between kills it
      (3L, "u2", "view", at(0)),
      (4L, "u2", "click", at(10)),
      (5L, "u2", "purchase", at(20)),
      // u3: view then purchase 2h later -> outside window
      (6L, "u3", "view", at(0)),
      (7L, "u3", "purchase", at(120)),
      // u4: click BEFORE the view does not disqualify -> MATCH
      (8L, "u4", "click", at(0)),
      (9L, "u4", "view", at(5)),
      (10L, "u4", "purchase", at(15)),
      // u5: purchase with no view at all
      (11L, "u5", "purchase", at(10))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val us = graft.sources.Tables.tsMicros(col("ts"))
    val out = events
      .withColumn("last_view_us", max(when(col("event_type") === "view", us)).over(w))
      .withColumn("last_click_us", max(when(col("event_type") === "click", us)).over(w))
      .where(col("event_type") === "purchase" && col("last_view_us").isNotNull &&
        us - col("last_view_us") <= 3600000000L &&
        (col("last_click_us").isNull || col("last_click_us") <= col("last_view_us")))
      .select(col("user_id"), (us - col("last_view_us")).as("us_since_view"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("u1", "u4"))
    assert(out("u1") == 30L * 60 * 1000000)
    assert(out("u4") == 10L * 60 * 1000000)
    // the registered query runs end-to-end on the fixture
    val q = SparkEntry.queries("q_pattern_match")(spark, dir)
    assert(q.columns.toSeq ==
      Seq("user_id", "event_id", "ts", "us_since_view"))
    assert(q.where(col("us_since_view") > 3600000000L || col("us_since_view") < 0).isEmpty)
  }

  test("PIT join semantics: a purchase sees the version valid AT its time, never a later one") {
    import spark.implicits._
    import graft.ext.{Expectations => _}
    // hand-built history: user 1's tier changes v=1 at t=100s, v=2 at
    // t=300s. Purchases at 50s (pre-profile), 100s (boundary: the NEW
    // version is valid AT its start), 200s (inside v=1), 300s (boundary
    // of v=2), 400s (inside v=2, the open interval).
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rows = Seq(
      (1L, 1L, "view", ts(100), 0.1),   // floor(0.1*10)=1 -> tier 1
      (2L, 1L, "view", ts(300), 0.2),   // tier 2
      (10L, 1L, "purchase", ts(50), 1.0),
      (11L, 1L, "purchase", ts(100), 1.0),
      (12L, 1L, "purchase", ts(200), 1.0),
      (13L, 1L, "purchase", ts(300), 1.0),
      (14L, 1L, "purchase", ts(400), 1.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val d = tempDir("graft-pit").toString
    rows.withColumn("props", lit(null).cast("string"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_pit_join")(spark, d)
      .collect().map(r => Option(r.getAs[java.lang.Long]("tier")).map(_.toLong) ->
        (r.getAs[Long]("n_purchases"), r.getAs[Long]("value_cents"))).toMap
    // 50s: NULL (pre-profile); 100s + 200s: tier 1; 300s + 400s: tier 2
    assert(out(None) == ((1L, 100L)))
    assert(out(Some(1L)) == ((2L, 200L)))
    assert(out(Some(2L)) == ((2L, 200L)))
  }

  test("label window boundaries: strictly future, inclusive at exactly +24h") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val day = 86400L
    val rows = Seq(
      // u1: purchase exactly AT the view instant -> NOT a label (strict future)
      (1L, 1L, "view", ts(1000), 0.0), (2L, 1L, "purchase", ts(1000), 1.0),
      // u2: purchase exactly at +24h -> label 1 (inclusive end)
      (3L, 2L, "view", ts(1000), 0.0), (4L, 2L, "purchase", ts(1000 + day), 1.0),
      // u3: purchase 1s past +24h -> label 0
      (5L, 3L, "view", ts(1000), 0.0), (6L, 3L, "purchase", ts(1001 + day), 1.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val d = tempDir("graft-lw").toString
    rows.withColumn("props", lit(null).cast("string"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q_label_window")(spark, d)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("label")).toMap
    assert(out == Map(1L -> 0L, 3L -> 1L, 5L -> 0L))
  }
}
