package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // file-stream sources need a directory; stage the single events file into one
  private lazy val streamDir: String = {
    val d = tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), d.resolve("events.parquet"))
    d.toString
  }

  test("streaming hourly agg over the events table matches the batch result") {
    val streamed = EventsStream.hourlyAgg(EventsStream.readStream(spark, streamDir))
    // complete mode so the final (watermark-open) windows are observable
    val got = EventsStream.runToMemory(spark, streamed, "hourly_test", "complete")
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    assert(got.count() == batch.count())
    val gotTotal = got.agg(sum("n_events")).head().getLong(0)
    assert(gotTotal == 1000L) // all sf0.001 events accounted for
  }

  test("streaming session windows produce bounded per-user sessions") {
    val streamed = EventsStream.sessionAgg(EventsStream.readStream(spark, streamDir))
    val got = EventsStream.runToMemory(spark, streamed, "sessions_test", "complete")
    assert(got.count() > 0)
    assert(got.agg(sum("n_events")).head().getLong(0) == 1000L)
    // session windows never overlap per user
    val l = got.select(col("user_id").as("u"),
      col("session_start").as("s1"), col("session_end").as("e1"))
    val r = got.select(col("user_id").as("u"), col("session_start").as("s2"))
    val overlaps = l.join(r, Seq("u"))
      .where(col("s1") < col("s2") && col("s2") < col("e1"))
    assert(overlaps.count() == 0)
  }

  test("stream-static join enriches events with dimension attributes") {
    import graft.sources.Tables
    val dim = Tables.read(spark, dir, "customer")
      .select(col("c_custkey").as("dim_user"), col("c_mktsegment"))
    val streamed = EventsStream.enriched(
      EventsStream.readStream(spark, streamDir), dim, "user_id", "dim_user")
    val got = EventsStream.runToMemory(spark, streamed, "enriched_test")
    assert(got.count() == 1000L) // left-outer: every event survives
    assert(got.columns.contains("c_mktsegment"))
    assert(got.where(col("c_mktsegment").isNotNull).count() > 0)
  }

  test("the web-extraction stage runs unchanged as a stateless stream") {
    // WebText is pure per-row projections, so the identical code path is
    // streaming-safe with no watermark/state: the raw-web → text stage
    // drops into a readStream ingest as-is — pin that by equality with
    // the batch result over the same files
    import graft.ext.WebText
    val d = tempDir("graft-webstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def wrap(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      WebText.synthesizeHtml(col("doc_id"),
        coalesce(col("text"), lit(""))).as("html"))
    val got = EventsStream.runToMemory(spark,
      WebText.extractAll(wrap(spark.readStream.schema(schema).parquet(d.toString)),
        "doc_id", "html", "corp.example.com"), "web_extract_test")
    val batch = WebText.extractAll(wrap(spark.read.parquet(s"$dir/documents.parquet")),
      "doc_id", "html", "corp.example.com")
    assert(got.count() == batch.count())
    val cols = Seq("doc_id", "title", "text_clean", "text_len", "n_links")
      .map(col)
    assert(got.select(cols: _*).except(batch.select(cols: _*)).count() == 0)
    assert(batch.select(cols: _*).except(got.select(cols: _*)).count() == 0)
  }

  test("the encoding audit runs unchanged as a stateless stream") {
    // same discipline as the web-extraction pin: encodingAudit is pure
    // per-row regexp counters, so the identical code path drops into a
    // readStream ingest (the quarantine gate runs AT ingest, before any
    // stateful stage) — pinned by equality with the batch result
    import graft.ext.WebText
    val d = tempDir("graft-encstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def wrap(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      WebText.synthesizeEncodingDamage(col("doc_id"),
        coalesce(col("text"), lit(""))).as("dmg"))
    val got = EventsStream.runToMemory(spark,
      WebText.encodingAudit(wrap(spark.readStream.schema(schema).parquet(d.toString)),
        "doc_id", "dmg"), "enc_audit_test")
    val batch = WebText.encodingAudit(
      wrap(spark.read.parquet(s"$dir/documents.parquet")), "doc_id", "dmg")
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.except(batch).count() == 0 && batch.except(got).count() == 0)
    // the damage families are actually present in the streamed result
    assert(got.where(!col("clean")).count() > 0)
  }

  test("dropDuplicatesWithinWatermark removes re-delivered events") {
    // stage the events file twice: every event is delivered twice
    val dupDir = tempDir("graft-stream-dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), dupDir.resolve("events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), dupDir.resolve("events_b.parquet"))
    val streamed = EventsStream.dedupedEvents(
      EventsStream.readStream(spark, dupDir.toString))
    val got = EventsStream.runToMemory(spark, streamed, "dedup_test")
    assert(got.count() == 1000L) // 2000 delivered, 1000 distinct event_ids
    assert(got.select("event_id").distinct().count() == 1000L)
  }

  test("stream-stream range join matches the batch range join") {
    val streamed = EventsStream.purchasesWithRecentViews(
      EventsStream.readStream(spark, streamDir))
    val got = EventsStream.runToMemory(spark, streamed, "ss_join_test")
    // batch reference: same join over the static table (inner form)
    val e = graft.sources.Tables.events(spark, dir)
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val batch = p.join(v, col("user_id") === col("v_user") &&
      col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") && col("v_ts") < col("ts"))
    assert(got.count() == batch.count())
    assert(got.count() > 0) // the synthetic stream does produce matches
  }

  test("foreachBatch sink writes idempotent batch partitions") {
    val out = tempDir("graft-sink").toString
    val ckpt = tempDir("graft-sink-ckpt").toString
    val q = EventsStream.toPartitionedParquet(
      EventsStream.readStream(spark, streamDir), out, ckpt)
    q.awaitTermination()
    val written = spark.read.parquet(out)
    assert(written.count() == 1000L)
    assert(written.columns.contains("batch_id"))
    // restart with the same checkpoint: nothing new to process, no dupes
    val q2 = EventsStream.toPartitionedParquet(
      EventsStream.readStream(spark, streamDir), out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 1000L)
  }

  test("streaming dedup-ingest matches the batch cross-corpus computation") {
    import graft.ext.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.where(col("doc_id") < 30)
    val incoming = docs.where(col("doc_id") >= 30)
    val work = tempDir("graft-corpus-stream")
    val staged = s"$work/staged"
    val src = s"$work/incoming"
    val out = s"$work/accepted"
    Dedup.stageSignatures(ref, "doc_id", "text", staged, numHashes = 64, bands = 16)
    incoming.write.parquet(src)

    val q = CorpusStream.dedupIngest(
      CorpusStream.readDocuments(spark, src, incoming.schema),
      "doc_id", "text", staged, out, s"$work/ckpt",
      numHashes = 64, bands = 16, threshold = 0.5)
    q.awaitTermination()

    // batch twin: exact + near within-batch dedup, then drop staged near-dups
    val exact = Dedup.exactDedup(incoming, "doc_id", Seq("text"))
    val withinBatch = Dedup.dropNearDuplicates(exact, "doc_id",
      Dedup.minhashNearDuplicates(exact, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5))
    val dupIds = Dedup.crossCorpusNearDuplicatesStaged(
      withinBatch, "doc_id", "text", staged, numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("new_id").as("doc_id")).distinct()
    val expected = withinBatch.join(dupIds, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val got = spark.read.parquet(out)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < incoming.count()) // something survived AND something deduped

    // checkpoint-recovery idempotency: a restart with nothing new appends nothing
    val q2 = CorpusStream.dedupIngest(
      CorpusStream.readDocuments(spark, src, incoming.schema),
      "doc_id", "text", staged, out, s"$work/ckpt",
      numHashes = 64, bands = 16, threshold = 0.5)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == got.size.toLong)

    // bootstrap: no staged reference yet -> the batch only self-dedups
    // instead of dying on a missing path
    val q3 = CorpusStream.dedupIngest(
      CorpusStream.readDocuments(spark, src, incoming.schema),
      "doc_id", "text", s"$work/never_staged", s"$work/boot_out", s"$work/boot_ckpt",
      numHashes = 64, bands = 16, threshold = 0.5)
    q3.awaitTermination()
    val bootIds = spark.read.parquet(s"$work/boot_out")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val expectedBoot = withinBatch
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(bootIds == expectedBoot)
  }

  test("ProcessingTime tailing + compaction: re-staged reference catches later duplicates") {
    import graft.ext.Dedup
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.where(col("doc_id") < 30).select("doc_id", "text")
    val batch1 = docs.where(col("doc_id") >= 30 && col("doc_id") < 60).select("doc_id", "text")
    val work = tempDir("graft-tailing")
    val staged = s"$work/staged"; val src = s"$work/incoming"; val out = s"$work/accepted"
    Dedup.stageSignatures(ref, "doc_id", "text", staged, numHashes = 64, bands = 16)
    batch1.write.parquet(src)
    // continuous tailing, NOT AvailableNow: the query stays up across the
    // whole grow-compact-grow cycle below
    val q = CorpusStream.dedupIngest(
      CorpusStream.readDocuments(spark, src, batch1.schema),
      "doc_id", "text", staged, out, s"$work/ckpt",
      numHashes = 64, bands = 16, threshold = 0.5,
      trigger = Trigger.ProcessingTime("500 milliseconds"))
    try {
      q.processAllAvailable()
      val accepted1 = spark.read.parquet(out).select("doc_id", "text")
      val n1 = accepted1.count()
      assert(n1 > 0)
      // compaction cadence (CorpusStream scaladoc): re-stage signatures
      // from reference + accepted output. Safe while the query idles —
      // processAllAvailable() has quiesced it, and micro-batches only
      // fire on new source files (the staged path is read inside them)
      Dedup.stageSignatures(ref.unionByName(accepted1), "doc_id", "text", staged,
        numHashes = 64, bands = 16)
      // batch 2: re-idd copies of the accepted docs — novel vs the
      // ORIGINAL reference (they just survived it), exact duplicates vs
      // the compacted one; only compaction can catch them
      accepted1.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val after = spark.read.parquet(out)
      assert(after.where(col("doc_id") >= 100000L).count() == 0,
        "compacted reference failed to catch re-ingested duplicates")
      assert(after.count() == n1) // nothing else appeared or vanished
    } finally q.stop()
  }

  test("streaming contamination gate drops benchmark-leaking docs like the batch twin") {
    import graft.ext.TextAnalysis
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.where(col("doc_id") < 30).select("doc_id", "text")
    // plant verbatim benchmark leaks into the stream (re-idd copies)
    val planted = bench.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val incoming = docs.where(col("doc_id") >= 30).select("doc_id", "text")
      .unionByName(planted)
    val work = tempDir("graft-contam-stream")
    val src = s"$work/incoming"
    val out = s"$work/clean"
    incoming.write.parquet(src)

    val q = CorpusStream.contaminationGate(
      CorpusStream.readDocuments(spark, src, incoming.schema),
      bench, "doc_id", "text", out, s"$work/ckpt", n = 3, flagAt = 0.5)
    q.awaitTermination()

    val expected = TextAnalysis.benchmarkOverlap(incoming, bench, "doc_id", "text",
        n = 3, flagAt = 0.5)
      .where(!col("contaminated"))
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val got = spark.read.parquet(out)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got == expected)
    // every planted verbatim leak (overlap 1.0) must be gone; the clean
    // tail must survive
    assert(got.forall(_ < 100000L))
    assert(got.nonEmpty)
  }

  test("foreachBatch-maintained aggregate state equals the batch recompute across micro-batches") {
    import spark.implicits._
    // force MULTIPLE micro-batches (one per file) so the merge path — not
    // just the batch-0 bootstrap — is exercised
    val src = tempDir("graft-incr-src")
    val events = graft.sources.Tables.events(spark, dir)
    events.where(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/part_a")
    events.where(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/part_b")
    val work = tempDir("graft-incr")
    val statePath = s"$work/state"
    val ckpt = s"$work/ckpt"
    val stream = {
      val schema = spark.read.parquet(s"$src/part_a").schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*")
    }
    val q = EventsStream.maintainUserStats(stream, statePath, ckpt)
    q.awaitTermination()
    // at least two versioned state partitions -> the merge path ran
    val versions = spark.read.parquet(statePath)
      .select("batch_id").distinct().count()
    assert(versions >= 2, s"expected >=2 micro-batches, saw $versions")
    val got = EventsStream.latestUserStats(spark, statePath)
      .as[(Long, Long, Double)].collect().map { case (u, n, s) => (u, (n, s)) }.toMap
    val expected = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100.0d + 0.5d).cast("long")).cast("double") / 100.0d).as("s"))
      .as[(Long, Long, Double)].collect().map { case (u, n, s) => (u, (n, s)) }.toMap
    assert(got == expected, "incrementally-maintained state differs from full recompute")
    // restart on the same checkpoint: nothing new, state unchanged
    val q2 = EventsStream.maintainUserStats(stream, statePath, ckpt)
    q2.awaitTermination()
    val got2 = EventsStream.latestUserStats(spark, statePath)
      .as[(Long, Long, Double)].collect().map { case (u, n, s) => (u, (n, s)) }.toMap
    assert(got2 == expected)
  }

  test("stream-maintained Misra-Gries state equals the batch counts at exactness capacity") {
    import spark.implicits._
    val src = tempDir("graft-hh-src")
    val events = graft.sources.Tables.events(spark, dir)
    events.where(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/part_a")
    events.where(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/part_b")
    val work = tempDir("graft-hh")
    val statePath = s"$work/state"
    val ckpt = s"$work/ckpt"
    def stream = {
      val schema = spark.read.parquet(s"$src/part_a").schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*")
    }
    val q = EventsStream.maintainHeavyHitters(stream, "event_type", statePath, ckpt,
      capacity = 64)
    q.awaitTermination()
    val versions = spark.read.parquet(statePath)
      .select("batch_id").distinct().count()
    assert(versions >= 2, s"expected >=2 micro-batches, saw $versions")
    // capacity (64) >= |event types| (5): no eviction on any path, so the
    // maintained summary IS the exact count table
    val got = EventsStream.latestHeavyHitters(spark, statePath)
      .as[(String, Long)].collect().toMap
    val expected = events.groupBy(col("event_type")).count()
      .as[(String, Long)].collect().toMap
    assert(got == expected, "maintained MG state differs from full recompute")
    // idempotent restart on the same checkpoint
    val q2 = EventsStream.maintainHeavyHitters(stream, "event_type", statePath, ckpt,
      capacity = 64)
    q2.awaitTermination()
    assert(EventsStream.latestHeavyHitters(spark, statePath)
      .as[(String, Long)].collect().toMap == expected)
  }

  test("stream-maintained value counts serve the exact median of all history") {
    import spark.implicits._
    val src = tempDir("graft-vc-src")
    val events = graft.sources.Tables.events(spark, dir)
    events.where(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/part_a")
    events.where(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/part_b")
    val work = tempDir("graft-vc")
    val statePath = s"$work/state"
    val ckpt = s"$work/ckpt"
    def stream = {
      val schema = spark.read.parquet(s"$src/part_a").schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*")
    }
    val q = EventsStream.maintainValueCounts(stream, statePath, ckpt)
    q.awaitTermination()
    val versions = spark.read.parquet(statePath)
      .select("batch_id").distinct().count()
    assert(versions >= 2, s"expected >=2 micro-batches, saw $versions")
    // the maintained state serves the EXACT median of the full history —
    // the holistic stat algebraic states cannot give
    val got = EventsStream.latestValueQuantile(spark, statePath, 0.5)
      .as[(String, Double)].collect().toMap
    val expected = events
      .withColumn("value_band", floor(col("value")).cast("long"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(value_band, 0.5)").as("p"))
      .as[(String, Double)].collect().toMap
    assert(got == expected, "maintained-state median differs from full recompute")
    // idempotent restart on the same checkpoint
    val q2 = EventsStream.maintainValueCounts(stream, statePath, ckpt)
    q2.awaitTermination()
    assert(EventsStream.latestValueQuantile(spark, statePath, 0.5)
      .as[(String, Double)].collect().toMap == expected)
  }

  test("stream-maintained hourly counts serve the same anomalies as the batch monitor") {
    import spark.implicits._
    val src = tempDir("graft-an-src")
    val events = graft.sources.Tables.events(spark, dir)
    events.where(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/part_a")
    events.where(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/part_b")
    val work = tempDir("graft-an")
    val statePath = s"$work/state"
    def stream = {
      val schema = spark.read.parquet(s"$src/part_a").schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*")
    }
    EventsStream.maintainHourlyCounts(stream, statePath, s"$work/ckpt")
      .awaitTermination()
    // the split by event_id parity scatters every hour across BOTH
    // micro-batches — the merged state must still equal the full
    // recompute, so the streamed monitor flags the same rows
    val got = EventsStream.latestHourlyAnomalies(spark, statePath)
      .select("event_type", "hour", "cnt", "z2", "is_anomaly")
      .as[(String, java.time.LocalDateTime, Long, Double, Boolean)].collect().toSet
    val batchHourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val want = graft.operators.TimeSeries.rollingAnomaly(batchHourly,
        Seq("event_type"), col("hour"), col("cnt"), 24, 12, 2.0)
      .select("event_type", "hour", "cnt", "z2", "is_anomaly")
      .as[(String, java.time.LocalDateTime, Long, Double, Boolean)].collect().toSet
    assert(got == want, "streamed anomaly board differs from batch recompute")
    assert(want.nonEmpty, "fixture should produce at least one scored row")
  }

  test("streaming SCD2 emits exactly the batch operator's closed intervals") {
    val streamed = EventsStream.scd2Intervals(spark,
      EventsStream.readStream(spark, streamDir)).toDF()
    val got = EventsStream.runToMemory(spark, streamed, "scd2_test", "append")
    // batch twin: q_scd2's CLOSED intervals (open runs stay in stream state)
    val batch = graft.SparkEntry.queries("q_scd2")(spark, dir)
      .where(!col("is_current"))
      .select("user_id", "run_id", "state", "valid_from", "valid_to", "n_events")
    val cols = batch.columns.map(col).toIndexedSeq
    assert(got.select(cols: _*).except(batch).isEmpty &&
      batch.except(got.select(cols: _*)).isEmpty,
      "streaming closed intervals differ from the batch history")
    assert(got.count() == batch.count())
  }

  test("flatMapGroupsWithState keeps a running per-user profile") {
    val streamed = EventsStream.userProfiles(spark,
      EventsStream.readStream(spark, streamDir)).toDF()
    val got = EventsStream.runToMemory(spark, streamed, "profiles_test", "append")
    // one final profile per user whose n_events equals the user's event count
    val finalPerUser = got.groupBy("user_id").agg(max("n_events").as("n"))
    val batchPerUser = graft.sources.Tables.events(spark, dir)
      .groupBy("user_id").count()
    val joined = finalPerUser.join(batchPerUser, "user_id")
      .where(col("n") =!= col("count"))
    assert(joined.count() == 0)
  }

  test("stream-maintained chunk store equals the batch content-defined recompute") {
    import spark.implicits._
    val src = tempDir("graft-cdc-src")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$src/part_a")
    docs.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$src/part_b")
    val work = tempDir("graft-cdc-state")
    val statePath = s"$work/state"
    def stream = {
      val schema = spark.read.parquet(s"$src/part_a").schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*")
    }
    val q = CorpusStream.maintainChunkStore(stream, statePath, s"$work/ckpt")
    q.awaitTermination()
    val versions = spark.read.parquet(statePath)
      .select("batch_id").distinct().count()
    assert(versions >= 2, s"expected >=2 micro-batches, saw $versions")
    val got = CorpusStream.latestChunkStoreStats(spark, statePath)
      .as[(Long, Long, Long)].head()
    // batch recompute over the whole corpus at once
    val chunks = graft.ext.Dedup.contentDefinedChunks(docs, "doc_id", "text")
    val store = chunks.groupBy(md5(col("chunk")).as("h"))
      .agg(count(lit(1)).as("n_refs"), min(length(col("chunk"))).as("len"))
    val expected = store.agg(count(lit(1)), sum(col("len")), sum(col("n_refs")))
      .as[(Long, Long, Long)].head()
    assert(got == expected,
      s"maintained chunk store $got differs from batch recompute $expected")
  }

  test("stream-maintained column profile equals the batch profile over all history") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val src = tempDir("graft-prof-src")
    // plant nulls in one shard so the null-count path is exercised
    docs.where(col("doc_id") % 2 === 0)
      .withColumn("lang", when(col("doc_id") % 6 === 0,
        lit(null).cast("string")).otherwise(col("lang")))
      .coalesce(1).write.parquet(s"$src/part_a")
    docs.where(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/part_b")
    val work = tempDir("graft-prof")
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    def stream = {
      val schema = spark.read.parquet(s"$src/part_a").schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*")
    }
    val q = CorpusStream.maintainColumnProfile(stream, s"$work/state", s"$work/ckpt", cols)
    q.awaitTermination()
    assert(spark.read.parquet(s"$work/state")
      .select("batch_id").distinct().count() >= 2, "expected >=2 micro-batches")
    val all = spark.read.parquet(s"$src/part_a").unionByName(
      spark.read.parquet(s"$src/part_b"))
    val got = CorpusStream.latestColumnProfile(spark, s"$work/state")
      .orderBy("col_name").collect().toSeq
    val expected = graft.operators.Profile.columnProfile(all, cols)
      .orderBy("col_name").collect().toSeq
    assert(got == expected,
      s"maintained profile differs from batch recompute:\n$got\nvs\n$expected")
    // the planted nulls actually registered
    assert(got.find(_.getString(0) == "lang").get.getLong(2) > 0)
  }
}
