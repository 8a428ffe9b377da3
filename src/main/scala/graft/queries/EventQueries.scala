package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ext.Sampling
import graft.queries.QueryHelpers._

/** Event-stream and time-series analytics over `events` (sessions,
  * funnels, as-of and point-in-time joins, rolling features, SCD2) and the
  * order/lineitem trend statistics. */
object EventQueries extends QueryFamily("events") {

  // W2 lag/lead analytics: per-user delta between consecutive event values
  query("q_lag_delta")((s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("delta"))
  }) {
    """SELECT event_id, user_id,
      | value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      |FROM events""".stripMargin
  }

  // F9 JSON extraction (events.props payload) + aggregate
  query("q_json_extract")((s, dir) => {
    t(s, dir, "events")
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
  }) {
    """SELECT event_type, count(*) AS n,
      | cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
      | max(cast(json_extract_string(props, '$.k') AS bigint)) AS max_k
      |FROM events GROUP BY event_type""".stripMargin
  }

  // range join: each purchase counts the same user's views in the
  // preceding hour (equi on user_id + range residual — sort-merge
  // friendly, never a cross join)
  query("q_range_join")((s, dir) => {
    val e = t(s, dir, "events")
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") < col("ts"), "left")
      .groupBy(col("event_id"))
      .agg(count(col("v_ts")).as("n_prior_views"))
  }) {
    """SELECT p.event_id AS event_id, count(v.ts) AS n_prior_views
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
      |GROUP BY p.event_id""".stripMargin
  }

  // pivot: per-user event-type count matrix (explicit value list so the
  // plan is a single aggregate — no distinct-values pre-pass)
  query("q_pivot")((s, dir) => {
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      // scoped fill: an unqualified na.fill would also rewrite a NULL
      // group key to 0, diverging from the oracle's GROUP BY
      .na.fill(0L, Seq("view", "click", "purchase", "signup", "error"))
  }) {
    """SELECT user_id,
      | count(*) FILTER (WHERE event_type = 'view') AS "view",
      | count(*) FILTER (WHERE event_type = 'click') AS click,
      | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      | count(*) FILTER (WHERE event_type = 'signup') AS signup,
      | count(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY user_id""".stripMargin
  }

  // Misra-Gries mergeable heavy-hitters summary — the shuffle carries at
  // most `capacity` counters per map task regardless of item
  // cardinality. At capacity >= |distinct| (64 >> 5 event types) MG is
  // provably exact and order-independent, which is what the count(*)
  // oracle checks; the over-capacity guarantee band is pinned in
  // GroundTruthSpec on the document word stream.
  query("q_heavy_hitters")((s, dir) => {
    t(s, dir, "events")
      .agg(graft.plans.MisraGriesAggregator.misraGries(64)(col("event_type")).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item").as("event_type"), col("x.est").as("cnt"))
  }) {
    // capacity >= cardinality ⇒ Misra-Gries never evicts ⇒ estimates ARE
    // the exact counts on every path — the oracle is plain count(*)
    "SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1"
  }

  // hour-of-week SEASONAL deviation profile: trim to exactly 4 full
  // weeks from the first event (uniform cell occupancy), densify the
  // (type, hour-index) grid to zero-filled cells (the q_gap_fill
  // discipline — missing hours are data, not absent rows), baseline
  // each (type, hour-of-week) cell over its 4 weekly observations, and
  // report the top-50 deviations by the FRACTION-FREE integer score
  // |4·cnt − Σcell| — the weekly-pattern monitor q_anomaly's rolling
  // window cannot express (a quiet Sunday 3am is normal seasonally,
  // anomalous to a rolling mean). Pure integers end to end; top-k is
  // TakeOrdered with a total-order tie-break
  query("q_seasonal_profile")((s, dir) => {
    val ev = t(s, dir, "events")
    val us = graft.sources.Tables.tsMicros(col("ts"))
    val t0 = ev.agg(min(us).as("t0"))
    val hourUs = 3600000000L
    val inWin = ev.crossJoin(broadcast(t0))
      .where(us < col("t0") + lit(28L * 24L * hourUs))
      .select(col("event_type"),
        // one IEEE division + floor, replayed op-for-op by the oracle:
        // deltas <= 2.4e12 us are exact doubles and quotients near an
        // integer k sit ~1e-10 away — far outside double spacing at
        // magnitude ~672, so floor never flips
        floor((us - col("t0")).cast("double") / lit(hourUs.toDouble))
          .cast("long").as("hour_idx"))
    val sparse = inWin.groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("cnt"))
    // dense zero-filled skeleton: 672 hours x the type dictionary
    val hours = t0.select(explode(sequence(lit(0L), lit(28L * 24L - 1L))).as("hour_idx"))
    val types = ev.select(col("event_type")).distinct()
    val dense = hours.crossJoin(broadcast(types))
      .join(sparse, Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("how", (col("hour_idx") % (7L * 24L)).cast("long"))
    val base = dense.groupBy(col("event_type"), col("how"))
      .agg(sum(col("cnt")).as("cell_sum"), count(lit(1)).as("n_obs"))
    dense.join(base, Seq("event_type", "how"))
      .select(col("event_type"), col("hour_idx"), col("how"), col("cnt"),
        col("cell_sum"),
        (col("cnt") * col("n_obs") - col("cell_sum")).as("dev_scaled"))
      .orderBy(abs(col("dev_scaled")).desc, col("event_type"),
        col("hour_idx"))
      .limit(50)
  }) {
    // same 4-full-week trim, same floor(double) hour indexing, same dense
    // zero-filled grid and fraction-free deviation; top-50 under the
    // identical (|dev|, type, hour) total order
    """WITH t0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
      | inwin AS (
      |  SELECT event_type,
      |    cast(floor((epoch_us(ts) - t0.t0) / 3600000000.0) AS bigint) AS hour_idx
      |  FROM events, t0
      |  WHERE epoch_us(ts) < t0.t0 + 28 * 24 * 3600000000),
      | sparse AS (
      |  SELECT event_type, hour_idx, count(*)::BIGINT AS cnt
      |  FROM inwin GROUP BY 1, 2),
      | hours AS (SELECT g.i::BIGINT AS hour_idx FROM generate_series(0, 671) g(i)),
      | types AS (SELECT DISTINCT event_type FROM events),
      | dense AS (
      |  SELECT t.event_type, h.hour_idx,
      |    coalesce(s.cnt, 0)::BIGINT AS cnt,
      |    (h.hour_idx % 168)::BIGINT AS how
      |  FROM hours h CROSS JOIN types t
      |  LEFT JOIN sparse s
      |    ON s.event_type = t.event_type AND s.hour_idx = h.hour_idx),
      | base AS (
      |  SELECT event_type, how, sum(cnt)::BIGINT AS cell_sum,
      |    count(*)::BIGINT AS n_obs
      |  FROM dense GROUP BY 1, 2)
      |SELECT d.event_type, d.hour_idx, d.how, d.cnt, b.cell_sum,
      |  (d.cnt * b.n_obs - b.cell_sum)::BIGINT AS dev_scaled
      |FROM dense d JOIN base b ON d.event_type = b.event_type AND d.how = b.how
      |ORDER BY abs(d.cnt * b.n_obs - b.cell_sum) DESC, d.event_type, d.hour_idx
      |LIMIT 50""".stripMargin
  }

  // event-time tumbling-window aggregation (batch form of the streaming
  // hourly agg — same transform feeds readStream in graft.streaming)
  query("q_events_hourly")((s, dir) => {
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))
  }) {
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events,
      | cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin
  }

  // time-series gap-fill: densify the sparse hourly counts to EVERY
  // (hour, event_type) cell between the corpus's first and last hour,
  // zero-filled — the resample step before any windowed model sees the
  // series. Scale: the only data-sized shuffle is the hourly aggregation;
  // the dense skeleton is sequence()+explode over a single-row bounds
  // aggregate crossed with the distinct types — bounded by the time
  // domain (hours × types), never by corpus rows
  // out-of-orderness (lateness) profile — the measurement that SIZES a
  // streaming watermark: each event's lateness is how far the per-user
  // running max event time had already advanced past it on ARRIVAL; the
  // histogram over hour buckets (capped at 24h+) says what delay bound
  // covers which fraction of events. The fixture's event_id order IS
  // time order (zero disorder — a degenerate check), so arrival is
  // synthesized deterministically by reversing 64-id ingest blocks (the
  // synthesizeMedia discipline: a shuffled delivery the oracle replays
  // with the same integer arithmetic). One user-hash exchange (window),
  // then a bounded-bucket map-combined rollup; integer micros end to end
  query("q_lateness_profile")((s, dir) => {
    val tsUs = graft.sources.Tables.tsMicros(col("ts"))
    val arr = expr("(event_id div 64) * 64 + 63 - (event_id % 64)")
    val w = Window.partitionBy(col("user_id")).orderBy(col("__arr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), arr.as("__arr"), tsUs.as("__us"))
      .withColumn("__late_us", max(col("__us")).over(w) - col("__us"))
      .select(least(expr("__late_us div 3600000000"), lit(24L)).as("late_hours"))
      .groupBy(col("late_hours"))
      .agg(count(lit(1)).as("n_events"))
  }) {
    // the same block-reversed synthesized arrival, per-user running max,
    // and hour bucketing capped at 24
    """WITH r AS (
      |  SELECT epoch_us(ts) AS us,
      |    max(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY (event_id // 64) * 64 + 63 - (event_id % 64)
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      |  FROM events)
      |SELECT least((runmax - us) // 3600000000, 24)::BIGINT AS late_hours,
      |  count(*)::BIGINT AS n_events
      |FROM r GROUP BY 1""".stripMargin
  }

  query("q_gap_fill")((s, dir) => {
    val ev = t(s, dir, "events")
    val sparse = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val hours = bounds.select(
      explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val types = ev.select(col("event_type")).distinct()
    hours.crossJoin(broadcast(types))
      .join(sparse, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }) {
    """WITH sparse AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      | b AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
      | hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
      | types AS (SELECT DISTINCT event_type FROM events)
      |SELECT h.hour, t.event_type, coalesce(s.n_events, 0) AS n_events
      |FROM hours h CROSS JOIN types t
      |LEFT JOIN sparse s ON s.hour = h.hour AND s.event_type = t.event_type""".stripMargin
  }

  // as-of temporal join: each purchase paired with the user's most recent
  // preceding view (ordered running-max over a typed timestamp — no
  // self-join, one shuffle on user_id)
  query("q_asof_join")((s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .withColumn("prev_view_ts",
        max(when(col("event_type") === "view", col("ts"))).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("prev_view_ts"))
  }) {
    """SELECT event_id, user_id, ts, prev_view_ts FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    max(CASE WHEN event_type = 'view' THEN ts END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_ts
      |  FROM events)
      |WHERE event_type = 'purchase'""".stripMargin
  }

  // event debounce: drop an event arriving within 10 minutes of the
  // PREVIOUS same-type event for the user (duplicate-fire telemetry
  // cleanup). Time deltas compare exact integer micros (Tables.tsMicros /
  // epoch_us) — a seconds cast would truncate sub-second gaps
  // differently per engine, and bare unix_micros is an analysis error on
  // the fixture's TIMESTAMP_NTZ ts. Same single user-hash exchange as
  // q_scd2.
  query("q_event_dedup")((s, dir) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .where(col("prev_ts").isNull ||
        graft.sources.Tables.tsMicros(col("ts")) -
          graft.sources.Tables.tsMicros(col("prev_ts")) > 600000000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
  }) {
    """SELECT event_id, user_id, event_type, ts FROM (
      |  SELECT event_id, user_id, event_type, ts,
      |    lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 600000000""".stripMargin
  }

  // absence-constrained sequence detection (the MATCH_RECOGNIZE-shaped
  // pattern a funnel can't express): purchases whose nearest preceding
  // view is within 1 hour with NO click after that view — "impulse
  // purchase". ONE window pass computes both last-view and last-click
  // micros over the same (user, ts, event_id) frame (current row
  // excluded), so the negative condition costs no anti-join and no
  // second exchange; ties at the same microsecond resolve by the
  // deterministic (ts, event_id) order both engines share
  query("q_pattern_match")((s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val us = graft.sources.Tables.tsMicros(col("ts"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", us)).over(w))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", us)).over(w))
      .where(col("event_type") === "purchase" &&
        col("last_view_us").isNotNull &&
        us - col("last_view_us") <= 3600000000L &&
        (col("last_click_us").isNull ||
          col("last_click_us") <= col("last_view_us")))
      .select(col("user_id"), col("event_id"), col("ts"),
        (us - col("last_view_us")).as("us_since_view"))
  }) {
    // same one-window-pass pattern: both conditional maxima over the
    // identical (ts, event_id)-ordered frame excluding the current row
    """SELECT user_id, event_id, ts,
      |  epoch_us(ts) - last_view_us AS us_since_view
      |FROM (
      |  SELECT user_id, event_type, ts, event_id,
      |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER w AS last_view_us,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER w AS last_click_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
      |  AND epoch_us(ts) - last_view_us <= 3600000000
      |  AND (last_click_us IS NULL OR last_click_us <= last_view_us)""".stripMargin
  }

  // SCD2 interval building: collapse each user's event stream into
  // (state, valid_from, valid_to, is_current) rows — the warehouse
  // change-history primitive. Consecutive same-state events fold into
  // one run (lag-gate + running sum = run id), runs become half-open
  // intervals via lead(). All window keys carry the (ts, event_id)
  // tie-break; run ids/counts are integer. One shuffle on user_id,
  // shared by both windows and the aggregation.
  query("q_scd2")((s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = t(s, dir, "events")
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    runs.groupBy(col("user_id"), col("run_id"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("run_id"), col("state"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
  }) {
    // same lag-gate + running-sum run ids, same (ts, event_id) tie-break;
    // run_id is cast to bigint (DuckDB window sums integers as int128)
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | r AS (
      |  SELECT user_id, event_type, ts,
      |    cast(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS bigint) AS run_id
      |  FROM o),
      | iv AS (
      |  SELECT user_id, run_id, min(event_type) AS state,
      |    min(ts) AS valid_from, count(*)::BIGINT AS n_events
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, run_id, state, valid_from,
      |  lead(valid_from) OVER w2 AS valid_to, n_events,
      |  lead(valid_from) OVER w2 IS NULL AS is_current
      |FROM iv
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)""".stripMargin
  }

  // freshness/staleness gate: per event type, how far its latest event
  // lags the feed's global latest — the ingest-health row a pipeline
  // checks before publishing a snapshot (a silently stalled source
  // shows up as a growing lag, not an error). Integer micros
  // throughout; the global max joins back as a broadcast single row
  query("q_freshness_gate")((s, dir) => {
    val tsUs = graft.sources.Tables.tsMicros(col("ts"))
    val perType = t(s, dir, "events")
      .groupBy(col("event_type")).agg(max(tsUs).as("latest_us"))
    val global = perType.agg(max(col("latest_us")).as("global_us"))
    perType.crossJoin(broadcast(global))
      .select(col("event_type"),
        expr("(global_us - latest_us) div 3600000000").as("lag_hours"),
        (col("global_us") - col("latest_us") <= 72L * 3600000000L).as("fresh"))
  }) {
    """WITH t AS (
      |  SELECT event_type, max(epoch_us(ts)) AS latest_us
      |  FROM events GROUP BY 1),
      | g AS (SELECT max(latest_us) AS global_us FROM t)
      |SELECT event_type,
      |  ((g.global_us - t.latest_us) // 3600000000)::BIGINT AS lag_hours,
      |  (g.global_us - t.latest_us) <= 259200000000 AS fresh
      |FROM t, g""".stripMargin
  }

  // purged, embargoed temporal 5-fold CV plan (López de Prado's purged
  // k-fold): equal-width test windows over the event-time axis, a 6 h
  // embargo purged from BOTH edges so the 24 h label window
  // (q_label_window) and trailing features (q_rolling_features) cannot
  // straddle a fold boundary. Exact integer micros arithmetic only —
  // window bounds via long `div`, counts as conditional sums; the audit
  // invariant test_n + train_n + purged_n = total holds per fold
  query("q_purged_folds")((s, dir) => {
    graft.ext.Sampling.purgedTimeFolds(
      t(s, dir, "events"),
      graft.sources.Tables.tsMicros(col("ts")),
      k = 5, embargoUs = 6L * 3600L * 1000000L)
  }) {
    // identical integer-micros fold bounds (long // replays Spark's div on
    // these non-negative operands) and the same conditional count rollup
    """WITH s AS (
      |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) + 1 AS hi
      |  FROM events),
      | b AS (
      |  SELECT f.fold,
      |    lo + ((hi - lo) * f.fold) // 5 AS test_lo_us,
      |    lo + ((hi - lo) * (f.fold + 1)) // 5 AS test_hi_us
      |  FROM (SELECT unnest(range(0, 5)) AS fold) f, s),
      | e AS (SELECT epoch_us(ts) AS us FROM events)
      |SELECT b.fold::BIGINT AS fold, b.test_lo_us, b.test_hi_us,
      |  sum(CASE WHEN us >= test_lo_us AND us < test_hi_us
      |      THEN 1 ELSE 0 END)::BIGINT AS test_n,
      |  sum(CASE WHEN us < test_lo_us - 21600000000
      |        OR us >= test_hi_us + 21600000000
      |      THEN 1 ELSE 0 END)::BIGINT AS train_n,
      |  (count(*) - sum(CASE WHEN us >= test_lo_us AND us < test_hi_us
      |      THEN 1 ELSE 0 END)
      |    - sum(CASE WHEN us < test_lo_us - 21600000000
      |        OR us >= test_hi_us + 21600000000
      |      THEN 1 ELSE 0 END))::BIGINT AS purged_n
      |FROM e, b GROUP BY 1, 2, 3""".stripMargin
  }

  // trailing-window feature materialization: per event, the user's
  // activity count and spend over the PRECEDING 7 days (range frame on
  // the micros axis — a row frame would be wrong under irregular event
  // spacing). The per-user window is one hash exchange + in-partition
  // sort; integer micros and cents keep the frame edges and sums exact
  query("q_rolling_features")((s, dir) => {
    val ev = t(s, dir, "events")
    val tsUs = graft.sources.Tables.tsMicros(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
      .rangeBetween(-7L * 86400L * 1000000L, 0L)
    ev.select(col("event_id"), col("user_id"), tsUs.as("__us"),
        floor(col("value") * 100 + 0.5).cast("long").as("__cents"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("cents_7d", sum(col("__cents")).over(w))
      .select(col("event_id"), col("user_id"), col("n_7d"), col("cents_7d"))
  }) {
    // the same micros axis (epoch_us) and numeric RANGE frame
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    cast(floor(value * 100 + 0.5) AS bigint) AS cents
      |  FROM events)
      |SELECT event_id, user_id,
      |  count(*) OVER w::BIGINT AS n_7d,
      |  sum(cents) OVER w::BIGINT AS cents_7d
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin
  }

  // future-window label generation — the training-label counterpart of
  // the PIT join: for each view, did the user purchase within the NEXT
  // 24 hours (strictly after the view — the label window must not see
  // the labeling instant itself)? Per-user equi-join + time-range
  // predicate, grouped to one 0/1 label per view
  query("q_label_window")((s, dir) => {
    val ev = t(s, dir, "events")
    val tsUs = graft.sources.Tables.tsMicros(col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), tsUs.as("v_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), tsUs.as("p_us"))
    views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_us") > col("v_us") &&
          col("p_us") <= col("v_us") + 86400L * 1000000L, "left")
      .groupBy(col("event_id"))
      .agg(max(when(col("p_us").isNotNull, 1L).otherwise(0L)).as("label"))
  }) {
    // same strict-future window; LEFT JOIN + max replays the EXISTS
    """WITH v AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'),
      | p AS (
      |  SELECT user_id AS p_user, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT v.event_id,
      |  max(CASE WHEN p.p_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS label
      |FROM v LEFT JOIN p
      |  ON p.p_user = v.user_id AND p.p_us > v.v_us
      |  AND p.p_us <= v.v_us + 86400000000
      |GROUP BY 1""".stripMargin
  }

  // point-in-time (PIT) join — the feature-store correctness move: each
  // purchase is enriched with the dimension version VALID AT ITS EVENT
  // TIME, never a later one (joining the current version would leak
  // future state into training features). The dimension is the SCD2
  // run history of a user's view-derived tier; purchases BEFORE the
  // user's first view keep a NULL tier (the honest "no profile yet"
  // row a leaky join would silently backfill). Equi-join on the user
  // key + interval containment — per-user versions × purchases, never
  // a cross product; both sides co-partition on user_id at scale
  query("q_pit_join")((s, dir) => {
    val ev = t(s, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 10).cast("long").as("tier"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = views
      .withColumn("chg",
        when(lag(col("tier"), 1).over(w).isNull ||
          lag(col("tier"), 1).over(w) =!= col("tier"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    val dim = runs.groupBy(col("user_id"), col("run_id"))
      .agg(min(col("tier")).as("tier"), min(col("ts")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .select(col("user_id").as("d_user"), col("tier"),
        col("valid_from"), col("valid_to"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    purchases.join(dim,
        purchases("user_id") === dim("d_user") &&
          dim("valid_from") <= purchases("ts") &&
          (dim("valid_to").isNull || purchases("ts") < dim("valid_to")),
        "left")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
  }) {
    // the same tier-run dimension and containment join; a LEFT join so
    // the pre-first-view purchases keep their NULL-tier row
    """WITH v AS (
      |  SELECT user_id, ts, event_id,
      |    cast(floor(value * 10) AS bigint) AS tier
      |  FROM events WHERE event_type = 'view'),
      | o AS (
      |  SELECT user_id, ts, event_id, tier,
      |    CASE WHEN lag(tier) OVER w IS NULL
      |           OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      |  FROM v
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | r AS (
      |  SELECT user_id, tier, ts,
      |    cast(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS bigint) AS run_id
      |  FROM o),
      | iv AS (
      |  SELECT user_id, run_id, min(tier) AS tier, min(ts) AS valid_from
      |  FROM r GROUP BY 1, 2),
      | dim AS (
      |  SELECT user_id, tier, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
      |  FROM iv),
      | p AS (
      |  SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type = 'purchase')
      |SELECT d.tier,
      |  count(*)::BIGINT AS n_purchases,
      |  sum(cast(floor(p.value * 100 + 0.5) AS bigint))::BIGINT AS value_cents
      |FROM p LEFT JOIN dim d
      |  ON d.user_id = p.user_id AND d.valid_from <= p.ts
      |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)
      |GROUP BY 1""".stripMargin
  }

  // incremental aggregate maintenance (materialized-view pattern): the
  // per-user stats state is built separately over the history (80% of
  // events) and a delta batch (20%), then MERGED on state rows — the
  // answer must equal a full recompute, which is exactly what the
  // oracle runs. Merging works because every state column is algebraic:
  // counts and INTEGER-cents sums merge by sum (long addition is
  // order-independent — a double sum would not verify), first/last by
  // min/max. At 100 TB the history is scanned once ever; maintenance
  // cost tracks keys + delta, not history.
  query("q_incremental_agg")((s, dir) => {
    val events = t(s, dir, "events")
    def state(df: DataFrame) = df.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      sum(cents(col("value"))).as("sum_cents"),
      min(col("ts")).as("first_ts"),
      max(col("ts")).as("last_ts"))
    val history = state(events.where(col("event_id") % 10 < 8))
    val delta = state(events.where(col("event_id") % 10 >= 8))
    graft.operators.Incremental.mergeStates(Seq(history, delta), Seq("user_id"),
        Seq("n_events" -> "sum", "sum_cents" -> "sum",
          "first_ts" -> "min", "last_ts" -> "max"))
      .select(col("user_id"), col("n_events"),
        (col("sum_cents").cast("double") / lit(100.0d)).as("sum_value"),
        col("first_ts"), col("last_ts"))
  }) {
    // the oracle IS the full recompute — the merge-equals-recompute
    // contract is the whole point of the incremental operator
    """SELECT user_id, count(*) AS n_events,
      | cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_value,
      | min(ts) AS first_ts, max(ts) AS last_ts
      |FROM events GROUP BY user_id""".stripMargin
  }

  // the HOLISTIC counterpart of q_incremental_agg: per-type distinct
  // users cannot merge as an algebraic state, so the state is an HLL
  // sketch (DataSketches via hll_sketch_agg) and merge = sketch union —
  // same history-scanned-once contract, bounded error instead of
  // exactness. Sketch internals are engine-specific, so the query emits
  // the ORACLE-DECIDABLE contract: the exact distinct count (which
  // DuckDB recomputes over the full table — history ∪ delta partitions
  // it exactly) plus `within_bound` — the MERGED estimate sat within 5%
  // (~3σ at the default lgK=12 rsd of 1.6%) of the exact count. The
  // merge still runs; only the boolean escapes, so a broken union flips
  // the hash. GroundTruthSpec additionally pins merge == single-pass.
  query("q_incremental_distinct")((s, dir) => {
    val events = t(s, dir, "events")
    def state(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val history = state(events.where(col("event_id") % 10 < 8))
    val delta = state(events.where(col("event_id") % 10 >= 8))
    val merged = history.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(hll_union_agg(col("sk")).as("merged"))
      .select(col("event_type"),
        hll_sketch_estimate(col("merged")).as("__approx"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__approx") - col("exact_users").cast("double")) <=
          lit(0.05d) * col("exact_users").cast("double")).as("within_bound"))
  }) {
    // the merged-HLL estimate is engine-local; the oracle recomputes the
    // exact distinct over the full table (history ∪ delta partitions it
    // exactly) and asserts Spark's 3-sigma bound boolean is TRUE
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      | TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin
  }

  // per-user aggregate profile — batch semantics of the streaming
  // flatMapGroupsWithState operator in graft.streaming
  query("q_user_stats")((s, dir) => {
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        dsum(col("value")).as("sum_value"))
  }) {
    """SELECT user_id, count(*) AS n_events,
      | count(DISTINCT event_type) AS n_types,
      | cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double) / 100.0 AS sum_value
      |FROM events GROUP BY user_id""".stripMargin
  }

  // sessionization with 30-minute inactivity gap (session_window batch
  // form; oracle emulates via lag + cumulative sum)
  query("q_sessions")((s, dir) => {
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
  }) {
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      | sessioned AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM flagged)
      |SELECT min(ts) AS session_start, user_id, count(*) AS n_events
      |FROM sessioned GROUP BY user_id, sess""".stripMargin
  }

  // ordered conversion funnel (view -> click-after-view ->
  // purchase-after-click): each stage is a type-pruned scan (predicate
  // reaches the parquet reader) aggregated per user, joined on user_id —
  // at scale all three frames co-partition on the user key; no window
  // over the raw event stream, no per-user sort
  query("q_funnel")((s, dir) => {
    val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val c = e.where(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .where(col("ts") > col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .where(col("ts") > col("first_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("first_purchase").isNotNull, lit(3))
          .when(col("first_click").isNotNull, lit(2))
          .otherwise(lit(1)).as("stage"),
        col("first_view"), col("first_click"), col("first_purchase"))
  }) {
    // the ordered-funnel chain replayed stage by stage (each stage's min
    // is constrained to strictly after the previous stage's first event)
    """WITH v AS (
      |  SELECT user_id, min(ts) AS first_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      | c AS (
      |  SELECT e.user_id AS user_id, min(e.ts) AS first_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.first_view GROUP BY 1),
      | p AS (
      |  SELECT e.user_id AS user_id, min(e.ts) AS first_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.first_click GROUP BY 1)
      |SELECT v.user_id AS user_id,
      |  CASE WHEN p.first_purchase IS NOT NULL THEN 3
      |       WHEN c.first_click IS NOT NULL THEN 2 ELSE 1 END AS stage,
      |  v.first_view AS first_view, c.first_click AS first_click,
      |  p.first_purchase AS first_purchase
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin
  }

  // weekly cohort-retention matrix: cohort = the user's first active
  // week; one distinct-user count per (cohort, weeks_since) cell. The
  // per-user first-week frame joins back on the user key (co-partitioned
  // with the activity frame); week deltas are exact multiples of 7 days
  // so the int cast never truncates a fraction
  query("q_cohort_retention")((s, dir) => {
    val wk = t(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val first = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    wk.join(first, Seq("user_id"))
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / lit(7)).cast("int").as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }) {
    // both engines truncate weeks to Monday; deltas are exact multiples of
    // 7 days so integer division is lossless
    """WITH wk AS (
      |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      | first AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY 1)
      |SELECT cohort,
      |  cast(date_diff('day', cohort, wk.wk) // 7 AS integer) AS weeks_since,
      |  count(DISTINCT wk.user_id)::BIGINT AS n_users
      |FROM wk JOIN first ON wk.user_id = first.user_id
      |GROUP BY 1, 2""".stripMargin
  }

  // first-order Markov transition matrix over each user's event stream
  // (sequence-model prep): lag pairs ride the same one user-hash
  // exchange as q_scd2, the 5x5 count matrix is tiny, and each
  // probability is one exact int/int IEEE division
  query("q_event_transitions")((s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
  }) {
    // same (ts, event_id) tie-break as q_scd2; p = one exact int/int
    // IEEE division (count cast BIGINT — DuckDB window sums are int128)
    """WITH l AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      | c AS (
      |  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  cast(n AS double) / cast(sum(n) OVER (PARTITION BY prev_type) AS double) AS p
      |FROM c""".stripMargin
  }

  // group-wise OLS trend (slope/intercept/Pearson r of order value vs
  // days since 1995-01-01): one aggregation of exact integer moment sums
  // per group — cents x epoch-day products stay in long range per row,
  // and the n*Sxy-style combinations widen to decimal(38,0) BEFORE
  // multiplying (n*Sxy alone passes 2^63 near ~10M rows/group — the
  // 100x-scale overflow this shape is built to survive; decimal sums
  // stay exact to 1e38). Only the final slope/intercept/r steps leave
  // integers, each a single IEEE op chain replayed identically by the
  // oracle, rounded to 6 decimals
  query("q_trend_slope")((s, dir) => {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val o = t(s, dir, "orders").select(
      col("o_orderpriority"),
      datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
        .cast("long").as("x"),
      cents(col("o_totalprice")).as("y"))
    o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      .withColumn("num", dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
      .withColumn("den", dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
      .withColumn("dyy", dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy")))
      .withColumn("slope_cents_per_day",
        round(col("num").cast("double") / col("den").cast("double"), 6))
      .withColumn("intercept_cents",
        round(col("sy").cast("double") / col("n").cast("double") -
          col("slope_cents_per_day") *
            (col("sx").cast("double") / col("n").cast("double")), 6))
      .withColumn("pearson_r",
        round(col("num").cast("double") /
          sqrt(col("den").cast("double") * col("dyy").cast("double")), 6))
      .select(col("o_orderpriority"), col("n"),
        col("slope_cents_per_day"), col("intercept_cents"), col("pearson_r"))
  }) {
    // identical exact integer moments (DuckDB widens bigint combinations
    // to int128 natively — the decimal(38,0) twin of the Spark side),
    // identical final IEEE op chains, round 6
    """WITH o AS (
      |  SELECT o_orderpriority,
      |    cast(date_diff('day', DATE '1995-01-01', cast(o_orderdate AS date)) AS bigint) AS x,
      |    cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS y
      |  FROM orders),
      | m AS (
      |  SELECT o_orderpriority, count(*)::BIGINT AS n,
      |    cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
      |    cast(sum(x * x) AS bigint) AS sxx,
      |    sum(cast(x AS hugeint) * cast(y AS hugeint)) AS sxy,
      |    sum(cast(y AS hugeint) * cast(y AS hugeint)) AS syy
      |  FROM o GROUP BY 1),
      | k AS (
      |  SELECT *,
      |    cast(n AS hugeint) * sxy - cast(sx AS hugeint) * cast(sy AS hugeint) AS num,
      |    cast(n AS hugeint) * cast(sxx AS hugeint)
      |      - cast(sx AS hugeint) * cast(sx AS hugeint) AS den,
      |    cast(n AS hugeint) * syy
      |      - cast(sy AS hugeint) * cast(sy AS hugeint) AS dyy
      |  FROM m),
      | s AS (
      |  SELECT *, round(cast(num AS double) / cast(den AS double), 6) AS slope
      |  FROM k)
      |SELECT o_orderpriority, n,
      |  slope AS slope_cents_per_day,
      |  round(cast(sy AS double) / cast(n AS double)
      |    - slope * (cast(sx AS double) / cast(n AS double)), 6) AS intercept_cents,
      |  round(cast(num AS double)
      |    / sqrt(cast(den AS double) * cast(dyy AS double)), 6) AS pearson_r
      |FROM s""".stripMargin
  }

  // top-20 three-step event paths (clickstream flow mining): two lags
  // on the same user-hash exchange every sequence operator shares, then
  // a count over the tiny path vocabulary; top-k is a TakeOrdered with
  // the path string as tie-break, never a full sort
  query("q_event_paths")((s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .where(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(20)
  }) {
    // same (ts, event_id) tie-break, same top-k ordering
    """WITH l AS (
      |  SELECT event_type,
      |    lag(event_type, 1) OVER w AS p1,
      |    lag(event_type, 2) OVER w AS p2
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*)::BIGINT AS n
      |FROM l WHERE p2 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""".stripMargin
  }

  // per-user training sequences: the time-ordered LAST-8 event types,
  // joined into one string (the sequence-model feature-prep primitive).
  // One groupBy on the user key; ordering rides inside the row via
  // array_sort over (ts, event_id, type) structs — no window, no second
  // shuffle. At 100 TB the collect_list is bounded by the per-user
  // event count; cap with a pre-filter (e.g. recent N days) when user
  // streams are unbounded
  query("q_user_sequences")((s, dir) => {
    val arr = array_sort(collect_list(
      struct(col("ts"), col("event_id"), col("event_type"))))
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), arr.as("__a"))
      .select(col("user_id"), col("n_events"),
        array_join(
          transform(
            slice(col("__a"), greatest(size(col("__a")) - lit(7), lit(1)), lit(8)),
            _.getField("event_type")),
          ">").as("seq"))
  }) {
    // DuckDB's list() honors ORDER BY inside the aggregate — the twin of
    // the struct-sort idiom (same (ts, event_id) tie-break)
    """WITH l AS (
      |  SELECT user_id, count(*)::BIGINT AS n_events,
      |    list(event_type ORDER BY ts, event_id) AS seq_all
      |  FROM events GROUP BY 1)
      |SELECT user_id, n_events,
      |  array_to_string(seq_all[greatest(len(seq_all) - 7, 1):], '>') AS seq
      |FROM l""".stripMargin
  }

  // exponentially weighted moving average per user at the last event —
  // the sequential recurrence y_n = α·x_n + (1−α)·y_{n−1} in closed
  // weighted-sum form (one window pass + one agg, a single user-hash
  // exchange). α = 1/2 ON PURPOSE: every weight is a power of two, so
  // pow() and the per-term products are EXACT in both engines and the
  // oracle replays to the rounding digit
  query("q_ewma")((s, dir) => {
    graft.operators.TimeSeries.ewmaLast(t(s, dir, "events"),
      Seq("user_id"), Seq(col("ts"), col("event_id")), col("value"), alpha = 0.5)
      .select(col("user_id"), col("ewma"), col("n_points").as("n_events"))
  }) {
    // α = 1/2: pow(0.5, k) and each product are exact in both engines;
    // only the final sum is order-sensitive, inside the 1e-6 round
    """WITH r AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id,
      |  round(sum(value * CASE WHEN rn = 1 THEN pow(0.5, n - 1)
      |                         ELSE pow(0.5, n - rn) * 0.5 END), 6) AS ewma,
      |  max(n)::BIGINT AS n_events
      |FROM r GROUP BY 1""".stripMargin
  }

  // rolling z-score anomaly flag over hourly event counts — the metric
  // monitor every event pipeline runs. The z² statistic is computed as a
  // RATIO OF INTEGERS ((n·x − S)² / (n·Q − S²), the population-variance
  // identity cleared of fractions): one IEEE division per row, so the
  // result is bit-exact cross-engine with no quantization at all —
  // counts, sums and squares all stay longs until the final divide
  query("q_anomaly")((s, dir) => {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.TimeSeries.rollingAnomaly(hourly, Seq("event_type"),
      col("hour"), col("cnt"), lookback = 24, minPoints = 12, zThreshold = 2.0)
      .select(col("event_type"), col("hour"), col("cnt"), col("z2"),
        col("is_anomaly"))
  }) {
    // z² as a ratio of integers — no quantization anywhere; the single
    // IEEE division is bit-identical cross-engine
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      | w AS (
      |  SELECT event_type, hour, cnt,
      |    count(*) OVER win AS n, sum(cnt) OVER win AS sx,
      |    sum(cnt * cnt) OVER win AS sq
      |  FROM hourly
      |  WINDOW win AS (PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT event_type, hour, cnt,
      |  CAST((n * cnt - sx) * (n * cnt - sx) AS DOUBLE) / (n * sq - sx * sx) AS z2,
      |  CAST((n * cnt - sx) * (n * cnt - sx) AS DOUBLE) / (n * sq - sx * sx) > 4.0
      |    AS is_anomaly
      |FROM w WHERE n >= 12 AND n * sq - sx * sx <> 0""".stripMargin
  }

  // Pearson correlation between event-type hourly series (over hours
  // where both types fired — inner-join semantics, documented): all
  // moments stay integer sums; r = num / (√A·√B) with each factor's
  // sqrt and the final divide correctly rounded IEEE ops, so the value
  // is bit-identical cross-engine with NO rounding contract. Factored
  // √A·√B (not √(A·B)) keeps each radicand within long range ~100×
  // longer than the fused product would
  query("q_correlation")((s, dir) => {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val j = hourly.as("x").join(hourly.as("y"),
      col("x.hour") === col("y.hour") &&
        col("x.event_type") < col("y.event_type"))
    val g = j.groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("x.cnt")).as("sx"), sum(col("y.cnt")).as("sy"),
        sum(col("x.cnt") * col("y.cnt")).as("sxy"),
        sum(col("x.cnt") * col("x.cnt")).as("sxx"),
        sum(col("y.cnt") * col("y.cnt")).as("syy"))
    val va = g("n") * g("sxx") - g("sx") * g("sx")
    val vb = g("n") * g("syy") - g("sy") * g("sy")
    g.where(va > 0 && vb > 0)
      .select(col("type_a"), col("type_b"), col("n"),
        ((g("n") * g("sxy") - g("sx") * g("sy")).cast("double") /
          (sqrt(va.cast("double")) * sqrt(vb.cast("double")))).as("pearson_r"))
  }) {
    // integer moments; √A·√B then one divide — three correctly-rounded
    // IEEE ops, bit-identical in any engine
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      | g AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    count(*)::BIGINT AS n,
      |    sum(x.cnt)::BIGINT AS sx, sum(y.cnt)::BIGINT AS sy,
      |    sum(x.cnt * y.cnt)::BIGINT AS sxy,
      |    sum(x.cnt * x.cnt)::BIGINT AS sxx,
      |    sum(y.cnt * y.cnt)::BIGINT AS syy
      |  FROM hourly x JOIN hourly y ON x.hour = y.hour
      |    AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
      |FROM g
      |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""".stripMargin
  }

  // funnel latency: first view → first subsequent purchase per user,
  // exact integer-micros percentiles over the converted population —
  // the timing half q_funnel's stage counts leave out
  query("q_funnel_latency")((s, dir) => {
    val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val p = e.where(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .where(col("ts") > col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
    p.join(v, Seq("user_id"))
      .select((graft.sources.Tables.tsMicros(col("first_purchase")) -
        graft.sources.Tables.tsMicros(col("first_view"))).as("lat_us"))
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(lat_us, array(0.5D, 0.9D))").as("lpc"),
        min(col("lat_us")).as("min_us"), max(col("lat_us")).as("max_us"))
      .select(col("n_converted"), col("lpc").getItem(0).as("p50_us"),
        col("lpc").getItem(1).as("p90_us"), col("min_us"), col("max_us"))
  }) {
    """WITH v AS (
      |  SELECT user_id, min(ts) AS fv FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      | p AS (
      |  SELECT e.user_id, min(e.ts) AS fp
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > v.fv GROUP BY 1),
      | lat AS (
      |  SELECT epoch_us(fp) - epoch_us(fv) AS lat_us
      |  FROM p JOIN v USING (user_id))
      |SELECT count(*)::BIGINT AS n_converted,
      |  quantile_cont(lat_us, 0.5) AS p50_us,
      |  quantile_cont(lat_us, 0.9) AS p90_us,
      |  min(lat_us) AS min_us, max(lat_us) AS max_us
      |FROM lat""".stripMargin
  }

  // last-touch marketing attribution: every purchase credits the most
  // recent preceding view/click by the same user within 7 days (the
  // as-of-join shape, resolved as one user equi-join + one per-purchase
  // window — both ride a single user-hash exchange); credits aggregate
  // per touch type with integer-cents revenue. Tie-break (ts, event_id)
  // makes the winner deterministic in any engine
  query("q_attribution")((s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
    val touches = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("touch_type"))
    val joined = purchases.join(touches,
      col("p_user") === col("t_user") &&
        col("t_ts") <= col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("t_ts").desc, col("t_id").desc)
    joined.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("p_value")).as("attributed_revenue"))
  }) {
    // the as-of credit replayed with QUALIFY; 7 days in event-time micros
    """WITH p AS (
      |  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id, value AS p_value
      |  FROM events WHERE event_type = 'purchase'),
      | t AS (
      |  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
      |    event_type AS touch_type
      |  FROM events WHERE event_type IN ('view', 'click')),
      | credited AS (
      |  SELECT p.p_id, p.p_value, t.touch_type
      |  FROM p JOIN t ON p.p_user = t.t_user
      |    AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
      |  QUALIFY row_number() OVER (PARTITION BY p.p_id
      |    ORDER BY t.t_ts DESC, t.t_id DESC) = 1)
      |SELECT touch_type, count(*)::BIGINT AS n_purchases,
      |  cast(sum(cast(floor(p_value * 100.0 + 0.5) AS bigint)) AS double) / 100.0
      |    AS attributed_revenue
      |FROM credited GROUP BY 1""".stripMargin
  }

  // Kaplan-Meier survival over user lifetimes — the retention CURVE
  // (risk sets + censoring) that q_cohort_retention's weekly grid
  // cannot express: a user's lifetime runs first->last event in whole
  // days; users still active in the final week of the observation
  // window are CENSORED (they leave the risk set without counting as
  // churn — dropping them instead is the classic retention bias).
  // Pure integers end to end: the per-time KM factor is
  // ((n_risk - d) * 1e6) div n_risk — no float ever; the consumer
  // multiplies factors (or sums their logs) downstream. The window
  // runs over the DAILY lifetime rollup, bounded by the date range by
  // construction (the q_changepoint argument).
  query("q_survival_km")((s, dir) => {
    val us = graft.sources.Tables.tsMicros(col("ts"))
    val u = t(s, dir, "events").select(col("user_id"), us.as("__us"))
      .groupBy(col("user_id"))
      .agg(min(col("__us")).as("f"), max(col("__us")).as("l"))
    val mx = u.agg(max(col("l")).as("m"))
    val day = 86400000000L
    val lt = u.crossJoin(broadcast(mx))
      .select(expr(s"(l - f) div $day").as("t_days"),
        when(col("l") < col("m") - lit(7L * day), 1L).otherwise(0L).as("ev"))
    val byT = lt.groupBy(col("t_days"))
      .agg(count(lit(1)).as("__ending"), sum(col("ev")).as("n_events"))
    val w = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byT
      .withColumn("__before", coalesce(sum(col("__ending")).over(w), lit(0L)))
      .crossJoin(broadcast(byT.agg(sum(col("__ending")).as("__n"))))
      .select(col("t_days"),
        (col("__n") - col("__before")).as("n_risk"),
        col("n_events"),
        (col("__ending") - col("n_events")).as("n_censored"),
        expr("((__n - __before - n_events) * 1000000) div (__n - __before)")
          .as("km_factor_fp"))
  }) {
    // risk sets replayed with an exclusive running count over the daily
    // lifetime rollup; the KM factor is the same integer div
    """WITH u AS MATERIALIZED (
      |  SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
      |  FROM events GROUP BY 1),
      | mx AS (SELECT max(l) AS m FROM u),
      | lt AS (
      |  SELECT (l - f) // 86400000000 AS t_days,
      |    CASE WHEN l < m - 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM u, mx),
      | byt AS MATERIALIZED (
      |  SELECT t_days, count(*)::BIGINT AS ending, sum(ev)::BIGINT AS d
      |  FROM lt GROUP BY 1),
      | tot AS (SELECT sum(ending)::BIGINT AS n FROM byt),
      | cum AS (
      |  SELECT t_days, ending, d,
      |    coalesce(sum(ending) OVER (ORDER BY t_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM byt)
      |SELECT t_days, (n - before)::BIGINT AS n_risk, d AS n_events,
      |  (ending - d)::BIGINT AS n_censored,
      |  (((n - before - d) * 1000000) // (n - before))::BIGINT AS km_factor_fp
      |FROM cum CROSS JOIN tot""".stripMargin
  }

  // CUSUM changepoint on the daily revenue series — "when did the level
  // shift" for a pipeline health monitor. FRACTION-FREE deviation:
  // dev_t = n*P_t - t*T (P_t prefix sum, T total), computed in
  // decimal(38,0) like q_ks_test/q_wasserstein (n·P passes 2^63 once
  // total cents reach ~1e15 — a plain long would silently wrap while
  // the oracle's HUGEINT stays exact); the argmax ORDERS ON THE EXACT
  // DECIMAL (a long-cast here would overflow to NULL at scale and
  // silently argmax the wrong day; the oracle orders on its exact
  // HUGEINT) and takes the earliest day on ties; only the EMITTED
  // dev_abs is cast — to double, the same exact-integer→IEEE conversion
  // on both engines (the q_ks_test d_num discipline). The window runs
  // over the DAILY rollup — bounded by the date range by construction
  // (thousands of rows), not by data volume, which is the one shape
  // where an unpartitioned window is correct.
  query("q_changepoint")((s, dir) => {
    val daily = t(s, dir, "lineitem")
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
    val w = Window.orderBy(col("day"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val scored = daily
      .withColumn("__t", row_number().over(w).cast("long"))
      .withColumn("__p", sum(col("rev_c")).over(w))
      .crossJoin(broadcast(daily.agg(
        count(lit(1)).as("n_days"), sum(col("rev_c")).as("__tot"))))
      .select(col("day").as("change_day"), col("n_days"),
        abs(dec(col("n_days")) * dec(col("__p")) - dec(col("__t")) * dec(col("__tot")))
          .as("__dev"))
    scored
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__dev").desc, col("change_day"))))
      .where(col("__rk") === 1)
      .select(col("change_day"), col("n_days"),
        col("__dev").cast("double").as("dev_abs"))
  }) {
    """WITH daily AS MATERIALIZED (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS rev_c
      |  FROM lineitem GROUP BY 1),
      | scored AS (
      |  SELECT day AS change_day,
      |    count(*) OVER ()::BIGINT AS n_days,
      |    abs(count(*) OVER () * (sum(rev_c) OVER (ORDER BY day))
      |      - row_number() OVER (ORDER BY day) * (sum(rev_c) OVER ())) AS dev_exact
      |  FROM daily)
      |SELECT change_day, n_days, dev_exact::DOUBLE AS dev_abs
      |FROM scored ORDER BY dev_exact DESC, change_day LIMIT 1""".stripMargin
  }
}
