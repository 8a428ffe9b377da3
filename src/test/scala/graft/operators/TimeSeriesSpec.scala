package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("ewmaLast closed form equals the sequential recurrence per key") {
    val rows = Seq(
      ("u1", 1L, 10.0), ("u1", 2L, 20.0), ("u1", 3L, 2.0), ("u1", 4L, 8.0),
      ("u2", 1L, 5.0),
      ("u3", 2L, 1.0), ("u3", 5L, 3.0))
    val df = rows.toDF("k", "t", "v")
    for (alpha <- Seq(0.5, 0.25)) {
      val got = TimeSeries.ewmaLast(df, Seq("k"), Seq(col("t")), col("v"), alpha)
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        val xs = rs.sortBy(_._2).map(_._3)
        val y = xs.tail.foldLeft(xs.head)((acc, x) => alpha * x + (1 - alpha) * acc)
        k -> ((math.floor(y * 1e6 + 0.5) / 1e6, xs.size.toLong))
      }
      got.foreach { case (k, (e, n)) =>
        assert(math.abs(e - want(k)._1) < 1e-9, s"$k at alpha=$alpha")
        assert(n == want(k)._2)
      }
      assert(got.keySet == want.keySet)
    }
  }

  test("ewmaLast single point is the point itself; order columns break ties") {
    val df = Seq(("a", 1L, 0L, 7.5)).toDF("k", "t", "id", "v")
    val out = TimeSeries.ewmaLast(df, Seq("k"), Seq(col("t"), col("id")), col("v"))
      .as[(String, Double, Long)].collect()
    assert(out.toSeq == Seq(("a", 7.5, 1L)))
  }

  test("rollingAnomaly z2 equals the direct (x-mean)^2/var on the trailing window") {
    // one key, 10 points, lookback 8 / minPoints 4: windows are fully
    // determined, z2 must equal the textbook population formula.
    // (The spike sits INSIDE its own trailing window, so z² ≤ n−1 — a
    // 4-point window can never flag at z² > 4; 8 points can reach 7.)
    val xs = Seq(5L, 5L, 6L, 4L, 5L, 6L, 5L, 40L, 5L, 6L)
    val df = xs.zipWithIndex.map { case (x, i) => ("m", i.toLong, x) }
      .toDF("k", "t", "cnt")
    val got = TimeSeries.rollingAnomaly(df, Seq("k"), col("t"), col("cnt"),
        lookback = 8, minPoints = 4, zThreshold = 2.0)
      .select("t", "z2", "is_anomaly")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // expected from the definition, per trailing-window slice
    val want = (0 until xs.size).flatMap { i =>
      val win = xs.slice(math.max(0, i - 7), i + 1).map(_.toDouble)
      val n = win.size
      if (n < 4) None
      else {
        val mean = win.sum / n
        val varp = win.map(x => (x - mean) * (x - mean)).sum / n
        if (varp == 0.0) None
        else Some(i.toLong -> (((xs(i) - mean) * (xs(i) - mean) / varp)))
      }
    }.toMap
    assert(got.keySet == want.keySet, "same rows survive the guards")
    got.foreach { case (i, (z2, flag)) =>
      assert(math.abs(z2 - want(i)) < 1e-9, s"row $i")
      assert(flag == (z2 > 4.0))
    }
    // the planted spike is flagged
    assert(got(7L)._2, "the 40-count spike must flag at |z| > 2")
  }

  test("rollingAnomaly drops constant windows instead of dividing by zero") {
    val df = Seq(("m", 1L, 5L), ("m", 2L, 5L), ("m", 3L, 5L), ("m", 4L, 6L))
      .toDF("k", "t", "cnt")
    val out = TimeSeries.rollingAnomaly(df, Seq("k"), col("t"), col("cnt"),
      lookback = 4, minPoints = 2).select("t").as[Long].collect()
    assert(out.toSet == Set(4L), "only the window with variance survives")
  }

  test("seasonal profile surfaces a planted silenced hour-of-week as the top deviation") {
    // synthetic 4-week corpus: type "m", steady 10 events per hour, except
    // hour-of-week 50 in week 2 only, which is fully silenced — exactly
    // the seasonal signal a rolling monitor averages away. Feed the
    // q_seasonal_profile pipeline via a temp events table.
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val rows = for {
      h <- 0 until (28 * 24)
      if !(h % 168 == 50 && h / 168 == 1) // silence week-2's hour-of-week 50
      i <- 0 until 10
    } yield (h.toLong * 10 + i, base.plusHours(h.toLong), 1L, "m", 1.0d, "{}")
    val dirTmp = tempDir("graft-seasonal").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dirTmp/events.parquet")
    val top = graft.SparkEntry.queries("q_seasonal_profile")(spark, dirTmp)
      .collect()
    val first = top.head
    // the silenced cell: hour_idx = 168 + 50 = 218, cnt 0, cell_sum 30,
    // dev = 0*4 - 30 = -30; the three sibling weeks read +10 each... their
    // dev = 10*4 - 30 = +10. Top |dev| must be the silenced cell.
    assert(first.getAs[Long]("hour_idx") == 218L &&
      first.getAs[Long]("dev_scaled") == -30L,
      s"expected the silenced cell on top, got $first")
  }
}
