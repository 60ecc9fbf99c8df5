package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming: the streaming window agg must agree with its batch
  * twin, and stateful sessionization must accumulate across batches. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(t), user, typ, v)

  /** The latest snapshot of the sink at `path`. */
  private def latest(path: String) =
    graft.ops.Upsert.readSnapshot(spark, path,
      graft.ops.Upsert.latestVersion(spark, path))

  test("streaming tumbling window agg equals batch q_window_hourly semantics") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 00:10:00", 1, "a", 1.0),
      ev(2, "2024-01-01 00:50:00", 1, "a", 2.0),
      ev(3, "2024-01-01 01:10:00", 2, "b", 5.0))
    val q = EventStream.tumblingCounts(mem.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("agg_out")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("agg_out").orderBy("bucket", "event_type")
      .select("event_type", "n", "sum_v").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 2L, 3.0), ("b", 1L, 5.0)))
  }

  test("streaming sliding window: each event lands in len/slide overlapping buckets") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(ev(1, "2024-01-01 00:40:00", 1, "a", 2.0))
    val q = EventStream.tumblingCounts(mem.toDF(), "1 hour", "2 hours",
        slide = Some("15 minutes"))
      .writeStream.format("memory").queryName("slide_out")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("slide_out").orderBy("bucket")
      .select("bucket", "n", "sum_v")
      .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
    // 00:40 is inside the 1h windows starting 23:45, 00:00, 00:15, 00:30.
    assert(got.map(_._1.toString) == Seq("2023-12-31 23:45:00.0",
      "2024-01-01 00:00:00.0", "2024-01-01 00:15:00.0", "2024-01-01 00:30:00.0"))
    assert(got.forall { case (_, n, s) => n == 1L && s == 2.0 })
  }

  test("streaming ohlcBars agrees bar-for-bar with the batch aggregate") {
    implicit val sc = spark.sqlContext
    // Two symbols, two hour-bars; ids 1/2 share a timestamp so the
    // event_id tie decides the bar's open in both paths.
    val rows = Seq(
      ev(2, "2024-01-01 00:10:00", 2, "a", 30.0),
      ev(1, "2024-01-01 00:10:00", 1, "a", 10.0),
      ev(3, "2024-01-01 00:40:00", 3, "a", 20.0),
      ev(4, "2024-01-01 01:10:00", 1, "a", 40.0),
      ev(5, "2024-01-01 00:20:00", 2, "b", 5.0))
    val mem = MemoryStream[Event]
    mem.addData(rows: _*)
    val q = EventStream.ohlcBars(mem.toDF(),
        col("value"), col("user_id") + 1, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ohlc_out")
      .orderBy("event_type", "bucket").collect().toSeq
    val batch = graft.ops.Analytics.ohlcBars(rows.toDF(),
        Seq(col("event_type")), date_trunc("hour", col("ts")).as("bucket"),
        col("ts"), col("event_id"), col("value"), col("user_id") + 1,
        bucketName = "bucket")
      .select("bucket", "event_type", "open", "high", "low", "close",
        "volume", "vwap")
      .orderBy("event_type", "bucket").collect().toSeq
    assert(got == batch, s"stream $got != batch $batch")
    // Spot-check the tie-broken endpoint: symbol a, first bar opens at
    // the LOWER event_id's price despite equal timestamps.
    val aBar = spark.table("ohlc_out")
      .filter(col("event_type") === "a" && hour(col("bucket")) === 0)
      .collect().head
    assert(aBar.getAs[Double]("open") == 10.0)
    assert(aBar.getAs[Double]("close") == 20.0)
    assert(aBar.getAs[Long]("volume") == 2 + 3 + 4)
  }

  test("dedupWithinWatermark drops in-window duplicates, keeps distinct keys") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.dedupWithinWatermark(mem.toDF(), Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      ev(1, "2024-01-01 00:00:00", 1, "a", 1.0),
      ev(1, "2024-01-01 00:10:00", 1, "a", 1.0), // dup within watermark
      ev(2, "2024-01-01 00:20:00", 2, "b", 2.0))
    q.processAllAvailable()
    mem.addData(ev(1, "2024-01-01 00:30:00", 1, "a", 1.0)) // still in window
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L), "one row per key within the watermark")
  }

  test("intervalJoin emits purchase with in-window signup value only") {
    implicit val sc = spark.sqlContext
    val (pm, sm) = (MemoryStream[Event], MemoryStream[Event])
    val q = EventStream.intervalJoin(pm.toDF(), sm.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("join_out")
      .outputMode(OutputMode.Append()).start()
    sm.addData(
      ev(10, "2024-01-01 09:30:00", 7, "signup", 42.0),  // in window
      ev(11, "2024-01-01 07:00:00", 7, "signup", 99.0),  // too old
      ev(12, "2024-01-01 09:40:00", 8, "signup", 13.0))  // other user
    pm.addData(ev(1, "2024-01-01 10:00:00", 7, "purchase", 5.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("join_out")
      .select("event_id", "user_id", "sig_val")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 7L, 42.0)), "only the in-lookback same-user signup joins")
  }

  test("intervalJoin left_outer: unmatched purchase emits NULL only after the watermark verdict") {
    implicit val sc = spark.sqlContext
    val (pm, sm) = (MemoryStream[Event], MemoryStream[Event])
    val q = EventStream.intervalJoin(pm.toDF(), sm.toDF(), "1 hour",
        "2 hours", "left_outer")
      .writeStream.format("memory").queryName("outer_join_out")
      .outputMode(OutputMode.Append()).start()
    sm.addData(ev(10, "2024-01-01 09:30:00", 7, "signup", 42.0))
    pm.addData(
      ev(1, "2024-01-01 10:00:00", 7, "purchase", 5.0),  // matched
      ev(2, "2024-01-01 10:00:00", 8, "purchase", 6.0))  // no signup
    q.processAllAvailable()
    // The null verdict is NOT final yet: a user-8 signup could still
    // arrive within the watermark delay, so only the match is out.
    val early = spark.table("outer_join_out")
      .select("event_id").as[Long].collect().toSet
    assert(early == Set(1L), s"outer row must wait out the watermark: $early")
    // Push both watermarks well past 10:00 + lookback → null finalizes.
    sm.addData(ev(90, "2024-01-01 15:00:00", 99, "signup", 0.0))
    pm.addData(ev(91, "2024-01-01 15:00:00", 99, "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("outer_join_out")
      .filter(col("event_id").isin(1L, 2L))
      .select("event_id", "user_id", "sig_val")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)))).toSet
    assert(got == Set((1L, 7L, Some(42.0)), (2L, 8L, None)), got.toString)
  }

  test("intervalJoin agrees with batch asOfJoinBackward restricted to the lookback") {
    // The two operators are documented analogues: the streaming join is
    // the as-of join with the unbounded lookback replaced by an interval
    // (so state can evict). Contract: reduce the streaming pairs to the
    // most recent signup per purchase, and it must equal the batch as-of
    // result with matches older than the lookback filtered out.
    implicit val sc = spark.sqlContext
    val signups = Seq(
      ev(10, "2024-01-01 07:00:00", 7, "signup", 10.0), // superseded in-as-of, out-of-window
      ev(11, "2024-01-01 09:30:00", 7, "signup", 42.0), // latest for user 7, in window
      ev(12, "2024-01-01 05:00:00", 8, "signup", 13.0), // user 8's only signup: too old
      ev(13, "2024-01-01 09:10:00", 9, "signup", 20.0), // in window, superseded
      ev(14, "2024-01-01 09:50:00", 9, "signup", 30.0)) // in window, latest
    val purchases = Seq(
      ev(1, "2024-01-01 10:00:00", 7, "purchase", 1.0),
      ev(2, "2024-01-01 10:30:00", 8, "purchase", 1.0),
      ev(3, "2024-01-01 10:00:00", 9, "purchase", 1.0),
      ev(4, "2024-01-01 10:00:00", 10, "purchase", 1.0)) // no signup at all
    val (pm, sm) = (MemoryStream[Event], MemoryStream[Event])
    val q = EventStream.intervalJoin(pm.toDF(), sm.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("asof_twin_out")
      .outputMode(OutputMode.Append()).start()
    sm.addData(signups: _*)
    pm.addData(purchases: _*)
    q.processAllAvailable(); q.stop()
    // Fixture invariant: signup value grows with signup time per user, so
    // "most recent signup" = max(sig_val) without carrying the right ts.
    val streaming = spark.table("asof_twin_out")
      .groupBy("event_id", "user_id").agg(max("sig_val").as("sig_val"))
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.ops.Analytics.asOfJoinBackward(
        purchases.toDF().select("event_id", "user_id", "ts"),
        signups.toDF().select("user_id", "ts", "value"),
        "user_id", "ts", Map("value" -> "sig_val", "ts" -> "sig_ts"))
      .filter(col("sig_ts") >= col("ts") - expr("INTERVAL 1 hour"))
      .select("event_id", "user_id", "sig_val")
      .as[(Long, Long, Double)].collect().toSet
    assert(batch == Set((1L, 7L, 42.0), (3L, 9L, 30.0)),
      "as-of restricted to lookback: user 8 too old, user 10 unmatched")
    assert(streaming == batch,
      "streaming interval join must agree with the lookback-restricted as-of join")
  }

  test("file source -> windowed agg -> parquet sink wiring end-to-end") {
    // The full readStream -> transform -> writeStream path over real
    // files: events parquet in, hourly aggregate parquet out (Append mode
    // requires the watermark to close a window before rows emit — the
    // second batch's late event time does that).
    val in = java.nio.file.Files.createTempDirectory("graft_stream_in")
    val out = java.nio.file.Files.createTempDirectory("graft_stream_out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    def writeBatch(rows: Seq[Event], name: String): Unit =
      rows.toDF().withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$in/$name")
    writeBatch(Seq(
      ev(1, "2024-01-01 00:10:00", 1, "a", 1.0),
      ev(2, "2024-01-01 00:50:00", 1, "a", 2.0)), "b1")
    val stream = EventStream.readEvents(spark, s"$in/*")
    val q = EventStream.tumblingCounts(stream, "1 hour", "1 hour")
      .writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // Event time 03:30 pushes the watermark to 02:30 → hour-0 closes.
    writeBatch(Seq(ev(3, "2024-01-01 03:30:00", 2, "b", 5.0)), "b2")
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(out.toString)
      .select("event_type", "n", "sum_v").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 2L, 3.0)), s"hour-0 window for type a emitted once, got $got")
  }

  test("streaming export sink: sharded sink manifest equals the logical manifest, replay-safe") {
    implicit val sc = spark.sqlContext
    import graft.ext.{Export, Sampling}
    val sink = java.nio.file.Files.createTempDirectory("graft_export_sink")
      .resolve("corpus").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_export_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Export.exportSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", nShards = 4, sink, tieBreak = Seq("text"), ckpt)
    val b1 = (0L until 10L).map(i => (i, s"doc $i"))
    val b2 = (5L until 15L).map(i => (i, s"doc $i"))  // 5 overlap, 5 fresh
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()      // replayed batch
    q.stop()
    val cols = Seq("doc_id", "text")
    val got = Export.manifestOf(latest(sink), cols)
      .orderBy("shard").collect().toSeq
    val logical = Export.manifestOf(
      (0L until 15L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
        .withColumn("shard", Sampling.hashBucket(col("doc_id"), 4)), cols)
      .orderBy("shard").collect().toSeq
    assert(got == logical,
      "sink manifest == logical manifest of the distinct keys; replay added nothing")
    assert(latest(sink).count() == 15)
  }

  test("streaming near-dup sink: agrees with the batch incremental pipeline, replay-safe") {
    implicit val sc = spark.sqlContext
    import graft.ext.Dedup
    val sink = java.nio.file.Files.createTempDirectory("graft_nd_sink")
      .resolve("c").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nd_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.nearDupDedupSink(mem.toDF().toDF("doc_id", "text"),
      sink, "doc_id", "text", k = 4, bands = 2, rowsPerBand = 2,
      threshold = 0.7, checkpoint = ckpt)
    // ROTATIONS of a cyclic word sequence share the identical 3-gram
    // shingle SET (and word set): identical minhash signatures make
    // candidacy guaranteed, word-set Jaccard 1.0 passes the verify —
    // the test is deterministic whatever the hash constants, while the
    // texts (and their md5s) all differ.
    val b1 = Seq(
      1L -> "alpha beta gamma alpha beta",
      2L -> "totally different words over here",
      3L -> "beta gamma alpha beta gamma")         // rotation of 1: within-batch evict
    val b2 = Seq(
      4L -> "alpha beta gamma alpha beta",         // exact copy of 1: exact pass
      5L -> "gamma alpha beta gamma alpha",        // rotation of 1: band-table hit
      6L -> "completely unrelated token sequence")
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()    // replay: must add nothing
    q.stop()
    val got = latest(s"$sink/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // Batch reference: the SAME incremental policy run batch-by-batch
    // with the reference bands recomputed from scratch (no persisted
    // band table, no replay) — stream and batch must agree doc-for-doc.
    def withinDedup(b: Seq[(Long, String)]) = {
      val df = b.toDF("doc_id", "text")
      Dedup.removeNearDups(df,
        Dedup.verifiedNearDupPairs(df, "doc_id", "text", 4, 2, 2, 0.7), "doc_id")
    }
    val acc1 = withinDedup(b1)
    val acc2 = acc1.unionByName(Dedup.dedupAgainstReference(
      withinDedup(b2), acc1, "doc_id", "text", 4, 2, 2, 0.7))
    val expected = acc2.select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == expected, "stream sink != batch incremental pipeline")
    assert(got == Seq(1L, 2L, 6L),
      "3 evicted within-batch, 4 by exact pass, 5 by the persisted bands")
    // Band table stays in lockstep with the accepted corpus.
    assert(latest(s"$sink/bands").select("doc_id").distinct().count() == 3)
  }

  test("streaming winnow sink: shared passages evict, short docs replay-safe") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("graft_wn_sink")
      .resolve("c").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_wn_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.winnowDedupSink(mem.toDF().toDF("doc_id", "text"),
      sink, "doc_id", "text", k = 6, w = 3, minShared = 4, checkpoint = ckpt)
    // Distinctive vocabularies: only the planted shared passage
    // ("magenta crocodile waltzes beneath turquoise umbrella stands",
    // far past w+k-1 chars) produces shared fingerprints.
    val b1 = Seq(
      1L -> "magenta crocodile waltzes beneath turquoise umbrella stands quietly watching",
      2L -> "zebra fixation proves nothing interesting regarding quantum billiards",
      3L -> "today magenta crocodile waltzes beneath turquoise umbrella stands happily")
    val b2 = Seq(
      4L -> "magenta crocodile waltzes beneath turquoise umbrella stands quietly watching",
      5L -> "magenta crocodile waltzes beneath turquoise umbrella stands elsewhere",
      6L -> "seventeen lavender bicycles rolled past wooden fences during autumn rainfall",
      7L -> "hi")                                     // shorter than k: no fingerprints
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()      // replay: must add nothing
    mem.addData(b2: _*); q.processAllAvailable()      // replay incl. the no-fp doc
    // A later doc that reuses accepted key 2 with new content is dropped
    // as keep-existing, and none of its fingerprints land under key 2.
    val fpRows = latest(s"$sink/fps").count()
    mem.addData(2L -> "glacial kelp forests drift past obsidian lighthouses every evening")
    q.processAllAvailable()
    q.stop()
    assert(latest(s"$sink/fps").count() == fpRows, "a reused key adds no fingerprints")
    val got = latest(s"$sink/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 3 evicted within-batch (shares the passage with 1), 4 by the
    // exact pass, 5 by the persisted fingerprints; 7 lands despite
    // carrying zero fingerprints and survives replay via the exact
    // guard.
    assert(got == Seq(1L, 2L, 6L, 7L), s"sink holds $got")
    assert(latest(s"$sink/fps").select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 6L),
      "fingerprint table tracks accepted docs with >= 1 selection")
  }

  test("streaming upsert sink: keep-existing per key across batches, replay appends nothing") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("graft_upsert_sink")
      .resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_ckpt").toString
    val mem = MemoryStream[(Long, Double, String)]
    val q = EventStream.snapshotSink(
      mem.toDF().toDF("id", "value", "day"),
      sink, keys = Seq("id"), tieBreak = Seq("value"), checkpoint = ckpt)
    // Batch 1 bootstraps the sink (and dedups within itself: id 2 keeps
    // its lowest tie-break value).
    mem.addData((1L, 10.0, "d1"), (2L, 20.0, "d1"), (2L, 99.0, "d1"))
    q.processAllAvailable()
    // Batch 2: id 2 re-arrives with a NEW value → existing row wins;
    // id 3 is fresh → appended.
    mem.addData((2L, 555.0, "d1"), (3L, 30.0, "d2"))
    q.processAllAvailable()
    // Batch 3 replays batch 2 verbatim (at-least-once delivery) → the
    // sink must not change.
    mem.addData((2L, 555.0, "d1"), (3L, 30.0, "d2"))
    q.processAllAvailable(); q.stop()
    val got = latest(sink).select("id", "value")
      .as[(Long, Double)].collect().sorted.toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      s"keep-existing semantics + replay idempotence, got $got")
  }

  test("streaming decontamination sink: planted contamination filtered, stream == batch, replay appends nothing") {
    implicit val sc = spark.sqlContext
    import graft.ext.Contamination
    val sink = java.nio.file.Files.createTempDirectory("graft_decon_sink")
      .resolve("c").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decon_ckpt").toString
    val bench = Seq(100L -> "the quick brown fox jumps over the lazy dog",
      101L -> "pack my box with five dozen liquor jugs").toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.decontaminationSink(mem.toDF().toDF("doc_id", "text"),
      bench, sink, "doc_id", "text", n = 3, minHits = 2, maxShingleDf = 2,
      checkpoint = ckpt)
    // Docs 1 and 3 each share >= 2 distinct 3-gram shingles with a
    // benchmark doc (planted contamination); 2 and 4 share none.
    val b1 = Seq(1L -> "the quick brown fox jumps high today",
      2L -> "totally clean words nothing shared here at all")
    val b2 = Seq(3L -> "pack my box with care every day",
      4L -> "another clean document arrives in batch two")
    val probed = graft.ops.Upsert.lastProbedDirs
    mem.addData(b1: _*); q.processAllAvailable()
    // The replay guard is the sink's own bloom prune: a batch of fresh
    // content opens no sink dir, re-delivered content opens the dir
    // that holds it.
    probed.set(Seq("unset"))
    mem.addData(b2: _*); q.processAllAvailable()
    assert(probed.get().isEmpty, s"fresh content probed ${probed.get()}")
    mem.addData(b1: _*); q.processAllAvailable()   // replay: must add nothing
    assert(probed.get().nonEmpty, "re-delivered content must be probed")
    val got = latest(sink).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(2L, 4L), s"contaminated docs 1 and 3 must not land, got $got")
    // The batch operator over the union of unique arrivals must agree
    // doc-for-doc — the two paths are mutually verifying.
    val expected = Contamination.decontaminate(
        (b1 ++ b2).toDF("doc_id", "text"), bench, "doc_id", "text",
        n = 3, minHits = 2, maxShingleDf = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == expected, "stream sink != batch decontaminate over the same docs")
    // Within one batch, same-content docs under different keys land
    // once, keeping the lowest key.
    mem.addData(8L -> "one shared clean text", 7L -> "one shared clean text")
    q.processAllAvailable(); q.stop()
    assert(latest(sink).select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 4L, 7L), "same content within a batch lands once")
    // Every landed row carries its stored fingerprint, and a
    // fingerprint guard's scan of a table of them reads ONLY that
    // column: no re-read of the text.
    val landed = latest(sink)
    assert(landed.columns.contains("__fp"))
    assert(landed.filter(col("__fp") =!= md5(col("text"))).count() == 0,
      "stored __fp must be the md5 of the landed text")
    val plain = java.nio.file.Files.createTempDirectory("graft_decon_fp")
      .resolve("t").toString
    landed.select("doc_id", "text", "__fp").write.parquet(plain)
    val sinkSchema = org.apache.spark.sql.types.StructType(
      Seq(1L -> "x").toDF("doc_id", "text").schema.fields :+
        org.apache.spark.sql.types.StructField("__fp",
          org.apache.spark.sql.types.StringType))
    val guard = graft.ext.Dedup.freshByFingerprint(
      Seq(5L -> "probe doc").toDF("doc_id", "text"),
      spark.read.schema(sinkSchema).parquet(plain).select("__fp"),
      "__fp", "text")
    // (plan-string match, the PlanShapeSpec idiom — AQE wraps the scan)
    val planStr = guard.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(planStr.contains("ReadSchema: struct<__fp:string>"),
      s"sink scan must prune to __fp only:\n$planStr")
    assert(!planStr.contains("ReadSchema: struct<doc_id"),
      s"guard must not re-read the sink's data columns:\n$planStr")
  }

  test("decontaminationSink survives an empty first micro-batch") {
    // An empty first batch publishes v1 with an empty data dir; batch
    // 2's keep-existing probe must treat it as holding nothing, not
    // throw.
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("graft_decon_e")
      .resolve("c").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decon_eck").toString
    val bench = Seq(100L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.decontaminationSink(mem.toDF().toDF("doc_id", "text"),
      bench, sink, "doc_id", "text", n = 3, minHits = 2, maxShingleDf = 2,
      checkpoint = ckpt)
    q.processAllAvailable()                       // batch 0: empty
    mem.addData(5L -> "totally clean words here") // batch 1: must land
    q.processAllAvailable()
    // A NULL-text doc lands once and its REPLAY appends nothing: the
    // stored fingerprint is null-safe (md5(NULL) would match nothing
    // in the anti-join and re-land the doc on every replay).
    mem.addData(6L -> (null: String))
    q.processAllAvailable()
    mem.addData(6L -> (null: String))             // replay
    q.processAllAvailable(); q.stop()
    val got = latest(sink).select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(5L, 6L),
      s"clean + null-text docs must land exactly once each, got $got")
  }

  test("upsertSink survives an empty first micro-batch") {
    // The keep-existing snapshot sink (the upsert sink): an empty first
    // batch publishes v1 with an empty data dir, and the next batch's
    // anti-join must read it as an empty relation, not kill the query.
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("graft_upsert_empty")
      .resolve("t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_empty_ckpt").toString
    val mem = MemoryStream[(Long, Double, String)]
    // The gate empties batch 1 entirely (the source still triggers the
    // micro-batch, so the sink commit happens — the crash setup).
    val q = EventStream.snapshotSink(
      mem.toDF().toDF("id", "value", "day").filter(col("id") =!= 99L),
      sink, keys = Seq("id"), tieBreak = Seq("value"), checkpoint = ckpt)
    mem.addData((99L, 1.0, "d1"))
    q.processAllAvailable()
    mem.addData((1L, 10.0, "d1"), (99L, 2.0, "d1"))
    q.processAllAvailable()
    // Keep-existing still holds after the empty bootstrap.
    mem.addData((1L, 555.0, "d1"))
    q.processAllAvailable(); q.stop()
    val got = latest(sink).select("id", "value")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0)),
      s"empty first batch must not kill the query nor change semantics, got $got")
  }

  test("streaming curation composition: quality gate -> dedup -> windowed counts") {
    // The curation shape end-to-end in STREAMING mode from the same
    // operator library: map-only quality expressions apply unchanged,
    // dropDuplicatesWithinWatermark suppresses the re-sent event, and
    // the windowed aggregate sees each surviving event once. Complete
    // mode so the assertion reads final state without watermark timing.
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val gated = mem.toDF()
      .filter(col("value") > 0)                       // quality gate
      .filter(col("event_type") =!= "error")          // allowlist
    val deduped = EventStream.dedupWithinWatermark(gated, Seq("event_id"), "1 hour")
    val q = deduped
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("curated_out")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(
      ev(1, "2024-01-01 00:05:00", 1, "a", 1.0),
      ev(1, "2024-01-01 00:06:00", 1, "a", 1.0),  // dup: suppressed
      ev(2, "2024-01-01 00:10:00", 1, "a", -3.0), // fails quality gate
      ev(3, "2024-01-01 00:20:00", 2, "error", 1.0), // blocked type
      ev(4, "2024-01-01 00:30:00", 2, "a", 2.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("curated_out")
      .select("event_type", "n").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 2L)), s"expected events 1 and 4 only, got $got")
  }

  test("deterministic sampling makes identical decisions on stream and batch") {
    // Sampling is a pure key function (no rand(), no state) so the SAME
    // rows survive in streaming and batch — a property rand(seed)-based
    // sampling cannot offer (its draws depend on partition layout).
    implicit val sc = spark.sqlContext
    val events = (1L to 40L).map(i =>
      ev(i, "2024-01-01 00:00:%02d".format(i % 60), i % 5, "a", 1.0))
    val mem = MemoryStream[Event]
    val q = graft.ext.Sampling.hashSample(mem.toDF(), col("event_id"), 50)
      .writeStream.format("memory").queryName("sample_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(events: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sample_out")
      .select("event_id").as[Long].collect().toSet
    val batched = graft.ext.Sampling.hashSample(events.toDF(), col("event_id"), 50)
      .select("event_id").as[Long].collect().toSet
    assert(streamed == batched, "stream and batch must keep the same rows")
    assert(streamed.nonEmpty && streamed.size < 40, "a strict, non-empty subset")
  }

  test("batch sessionizeBatch agrees with the streaming sessionizer") {
    // Same five events and 10-minute gap as the streaming test below: the
    // batch twin must report the two sessions streaming closes, plus the
    // trailing still-open one (batch sees the whole history, so no
    // watermark concept applies).
    val events = Seq(
      ev(1, "2024-01-01 00:00:00", 7, "a", 1.0),
      ev(2, "2024-01-01 00:05:00", 7, "a", 2.0),
      ev(3, "2024-01-01 01:00:00", 8, "a", 9.0),
      ev(4, "2024-01-01 01:01:00", 8, "a", 1.0),
      ev(5, "2024-01-01 03:00:00", 8, "a", 5.0)).toDF()
    val batch = graft.ops.Analytics
      .sessionizeBatch(events, "user_id", "ts", "event_id", "value", 600L)
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(batch == Set((7L, 2L, 3.0), (8L, 2L, 10.0), (8L, 1L, 5.0)))
  }

  test("sessionize closes sessions once the watermark passes end+gap") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    // 10-minute gap, 5-minute watermark delay.
    val q = EventStream.sessionize(mem.toDS(), spark,
        gapMs = 10 * 60 * 1000L, watermark = "5 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    def emitted(user: Long): Seq[(Long, Long, Double)] =
      spark.table("sess_out").filter(col("user_id") === user)
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSeq
    // User 7: two in-gap events across two micro-batches → one session.
    mem.addData(ev(1, "2024-01-01 00:00:00", 7, "a", 1.0))
    q.processAllAvailable()
    mem.addData(ev(2, "2024-01-01 00:05:00", 7, "a", 2.0))
    q.processAllAvailable()
    assert(emitted(7).isEmpty,
      "nothing closes before the watermark passes end+gap — an in-gap " +
        "straggler could still arrive in a later batch")
    // User 9: two gap-separated runs inside ONE out-of-order micro-batch
    // (as a backfill delivers them) — they must become two sessions, not
    // merge because they shared a trigger. The batch's 00:50 event lifts
    // the watermark to 00:45, past both pending close times (00:15,
    // 00:25), so user 7's session and user 9's FIRST session emit
    // exactly once; user 9's 00:50 run stays open (00:60 > 00:45).
    mem.addData(
      ev(10, "2024-01-01 00:50:00", 9, "a", 4.0),
      ev(11, "2024-01-01 00:10:00", 9, "a", 1.0),
      ev(12, "2024-01-01 00:15:00", 9, "a", 2.0))
    q.processAllAvailable()
    assert(emitted(7) == Seq((7L, 2L, 3.0)),
      "user 7's merged 2-event session closes exactly once")
    assert(emitted(9) == Seq((9L, 2L, 3.0)),
      "the in-batch gap split user 9's backfill into separate sessions")
    // User 8: in-gap pair, then a beyond-gap event that lifts the
    // watermark to 02:55 > the pair's close time 01:11 → the pair closes;
    // the 03:00 run is still open (03:10 > 02:55).
    mem.addData(ev(3, "2024-01-01 01:00:00", 8, "a", 9.0))
    q.processAllAvailable()
    mem.addData(ev(4, "2024-01-01 01:01:00", 8, "a", 1.0))
    q.processAllAvailable()
    mem.addData(ev(5, "2024-01-01 03:00:00", 8, "a", 5.0))
    q.processAllAvailable(); q.stop()
    assert(emitted(8) == Seq((8L, 2L, 10.0)),
      "user 8's first session closes; the beyond-gap run is still open")
  }

  test("classifier-gated sink: stream == batch gate, drops 'drop' docs, replay-safe") {
    implicit val sc = spark.sqlContext
    import graft.ext.Classify
    val sink = java.nio.file.Files.createTempDirectory("graft_cls_sink")
      .resolve("q").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cls_ckpt").toString
    val weights = Classify.fixtureWeights(spark, 64)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "d1"),
      (2L, "one two three four five six seven", "d1"),
      (3L, "data table scan merge join filter sort", "d1"),
      (4L, "quick brown fox jumps over lazy dog", "d2"),
      (5L, "spark stream batch window state sink", "d2"))
    // Batch twin: what the gate must reproduce bit-for-bit.
    val batchKeep = Classify.scoreLinear(docs.toDF("doc_id", "text", "day"),
        "doc_id", "text", weights, 64, bias = 0.0)
      .filter(col("label") === "keep")
      .select("doc_id", "prob").as[(Long, Double)].collect().toMap
    assert(batchKeep.nonEmpty && batchKeep.size < docs.size,
      s"fixture must split keep/drop, got keep=${batchKeep.keySet}")
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStream.classifierGatedSink(
      mem.toDF().toDF("doc_id", "text", "day"), sink, "doc_id", "text",
      weights, buckets = 64, bias = 0.0, threshold = 0.5, checkpoint = ckpt)
    mem.addData(docs.take(3): _*)
    q.processAllAvailable()
    mem.addData(docs.drop(3): _*)
    q.processAllAvailable()
    // replay batch 2 verbatim (at-least-once delivery) — no growth
    mem.addData(docs.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val got = latest(sink).select("doc_id", "prob")
      .as[(Long, Double)].collect().toMap
    assert(got == batchKeep, s"stream gate must equal the batch gate, got $got")
  }

  test("windowed trending terms: stream equals the batch twin, top-k ranks deterministically") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val rows = Seq(
      (ts(5), "spark spark stream"),
      (ts(20), "batch spark"),
      (ts(65), "drift drift drift alert"),
      (ts(70), "drift alert"))
    val q = EventStream.windowedTermCounts(
        mem.toDF().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("trend").outputMode("update")
      .start()
    mem.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("trend")
      .select("win_start", "term", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val want = rows.toDF("ts", "text")
      .select(col("ts"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(window(col("ts"), "1 hour"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("term"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == want, "stream must equal the batch tumbling counts")
    val top = EventStream.topTermsPerWindow(spark.table("trend")
        .select("win_start", "term", "n"), k = 1)
      .select("win_start", "term").as[(java.sql.Timestamp, String)]
      .collect().toMap
    assert(top(ts(0)) == "spark" && top(java.sql.Timestamp.valueOf(
      "2026-01-01 11:00:00")) == "drift", s"window champions, got $top")
  }

  test("streaming snapshot sink: one version per batch, travel stable, keep-existing across batches") {
    implicit val sc = spark.sqlContext
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("snaps").toString
    val ckpt = java.nio.file.Files.createTempDirectory("snaps_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.snapshotSink(mem.toDF().toDF("id", "v"), path,
      Seq("id"), Seq("id"), ckpt)
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((2L, "CHANGED"), (3L, "c"))
    q.processAllAvailable(); q.stop()
    assert(Upsert.latestVersion(spark, path) == 2, "one version per micro-batch")
    assert(Upsert.readSnapshot(spark, path, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "keep-existing across micro-batches")
    assert(Upsert.readSnapshot(spark, path, 1).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")),
      "batch-1's version still time-travels")
    assert(Upsert.readSnapshotDelta(spark, path, 1, 2).as[(Long, String)]
      .collect().toSet == Set((3L, "c")))
  }

  test("streaming CDC merge sink: U/D apply per batch, history travels, replay is content-stable") {
    implicit val sc = spark.sqlContext
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("cdcm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdcm_ckpt").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStream.cdcMergeSink(mem.toDF().toDF("op", "id", "v"),
      path, Seq("id"), Seq("id"), "op", ckpt)
    mem.addData(("I", 1L, "a"), ("I", 2L, "b"), ("D", 9L, "gone"))
    q.processAllAvailable()
    mem.addData(("U", 2L, "B"), ("D", 1L, "x"), ("I", 3L, "c"))
    q.processAllAvailable(); q.stop()
    val latest = Upsert.latestVersion(spark, path)
    assert(Upsert.readSnapshot(spark, path, latest).select("id", "v")
      .as[(Long, String)].collect().toSet == Set((2L, "B"), (3L, "c")),
      "update replaced, delete gone, insert landed")
    assert(Upsert.readSnapshot(spark, path, 1).select("id", "v")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")),
      "pre-merge version still time-travels")
    // Replay of the second batch (fresh checkpoint simulates a
    // redelivery): content must not change.
    val mem2 = MemoryStream[(String, Long, String)]
    val ckpt2 = java.nio.file.Files.createTempDirectory("cdcm_ckpt2").toString
    val q2 = EventStream.cdcMergeSink(mem2.toDF().toDF("op", "id", "v"),
      path, Seq("id"), Seq("id"), "op", ckpt2)
    mem2.addData(("U", 2L, "B"), ("D", 1L, "x"), ("I", 3L, "c"))
    q2.processAllAvailable(); q2.stop()
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).select("id", "v")
      .as[(Long, String)].collect().toSet == Set((2L, "B"), (3L, "c")),
      "replayed CDC batch republishes identical content")
  }

  test("streaming CDC sink in merge-on-read mode: batches land as dvs, no data-dir rewrites, content equal") {
    implicit val sc = spark.sqlContext
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("cdcmor").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdcmor_ck").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStream.cdcMergeSink(mem.toDF().toDF("op", "id", "v"),
      path, Seq("id"), Seq("id"), "op", ckpt, mor = true)
    mem.addData(("I", 1L, "a"), ("I", 2L, "b"), ("I", 3L, "c"))
    q.processAllAvailable()
    def dirs() = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_")).toSet
    val before = dirs()
    mem.addData(("U", 2L, "B"), ("D", 1L, "x"), ("I", 4L, "d"))
    q.processAllAvailable(); q.stop()
    val added = dirs() -- before
    assert(added.exists(_.startsWith("dv-")) &&
      added.forall(d => d.startsWith("dv-") || d.startsWith("merge-")),
      s"trickle CDC batch must land as dvs + landing dir, added: $added")
    assert(Upsert.readSnapshot(spark, path,
        Upsert.latestVersion(spark, path)).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (3L, "c"), (4L, "d")))
    // Compaction folds the accumulated dvs — the steady-state loop.
    val vc = Upsert.compactSnapshots(spark, path)
    assert(!scala.io.Source.fromFile(
        new java.io.File(path + "/_snapshots", s"v$vc.list"))
      .getLines().exists(_.contains("\t")), "compaction folds the dvs")
    assert(Upsert.readSnapshot(spark, path, vc).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("CDC bootstrap collapses ops per key BEFORE filtering: an I beaten by a D bootstraps absent") {
    implicit val sc = spark.sqlContext
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("cdcb").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdcb_ckpt").toString
    val mem = MemoryStream[(String, Long, String)]
    // tieBreak on v: key 1's D row ("a") sorts before its I row ("z"),
    // so the winning op is D. The r15 bootstrap filtered to I/U rows
    // FIRST, materializing key 1 from the discarded I row — diverging
    // from mergeSnapshot's dedup-then-apply that every later batch gets.
    val q = EventStream.cdcMergeSink(mem.toDF().toDF("op", "id", "v"),
      path, Seq("id"), Seq("v"), "op", ckpt)
    mem.addData(("I", 1L, "z"), ("D", 1L, "a"), ("I", 2L, "b"))
    q.processAllAvailable(); q.stop()
    assert(Upsert.readSnapshot(spark, path, 1).select("id", "v")
      .as[(Long, String)].collect().toSet == Set((2L, "b")),
      "key 1's winning op is D — it must not bootstrap")
  }

  test("retryWhileLocked: typed match, no fixed cap, budget honored") {
    // Budget exceeded → the typed exception propagates.
    var calls = 0
    val e = intercept[graft.ops.LockHeldException] {
      EventStream.retryWhileLocked(400L) {
        calls += 1
        throw new graft.ops.LockHeldException("completely reworded text", null)
      }
    }
    assert(e.getMessage.contains("reworded"))
    assert(calls >= 2, "must have retried before the budget ran out")
    // Transient hold → retries past it and returns, whatever the
    // message says (the r15 shape grepped for 'holds' and a reworded
    // message turned every collision fatal).
    var left = 3
    val got = EventStream.retryWhileLocked(Long.MaxValue) {
      if (left > 0) { left -= 1
        throw new graft.ops.LockHeldException("anything at all", null) }
      42
    }
    assert(got == 42 && left == 0)
    // A non-lock failure is NEVER retried.
    var once = 0
    intercept[IllegalArgumentException] {
      EventStream.retryWhileLocked(Long.MaxValue) {
        once += 1; throw new IllegalArgumentException("real failure")
      }
    }
    assert(once == 1)
  }

  test("streaming CDC sink waits out a long-held rewriter lock instead of dying") {
    implicit val sc = spark.sqlContext
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("cdcl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdcl_ckpt").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = EventStream.cdcMergeSink(mem.toDF().toDF("op", "id", "v"),
      path, Seq("id"), Seq("id"), "op", ckpt)
    mem.addData(("I", 1L, "a"))
    q.processAllAvailable() // bootstrap (lock-free)
    // A rewriter holds the lock; release it 3 s later from another
    // thread. The merge batch must WAIT (typed retry + backoff, default
    // budget unbounded) and then land — the r15 sink died once its
    // 60 s text-matched budget ran out, killing the feed under any real
    // compaction; the critical-section shrink plus this wait closes it.
    val lock = new java.io.File(path + "/_snapshots", "compact.lock")
    assert(lock.createNewFile(), "precondition: rival rewriter holds the lock")
    val releaser = new Thread(() => { Thread.sleep(3000); lock.delete(); () })
    releaser.start()
    mem.addData(("U", 1L, "A2"), ("I", 2L, "b"))
    q.processAllAvailable(); q.stop(); releaser.join()
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).select("id", "v")
      .as[(Long, String)].collect().toSet == Set((1L, "A2"), (2L, "b")),
      "the batch landed after the lock cleared")
  }

  test("gated snapshot sink: a drifting batch quarantines, the stream and the sink keep going") {
    implicit val sc = spark.sqlContext
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("gss").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gss_ckpt").toString
    val quar = java.nio.file.Files.createTempDirectory("gss_q").toString + "/q"
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.snapshotSinkGated(mem.toDF().toDF("id", "v"),
      path, Seq("id"), Seq("id"), ckpt, quar,
      maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0)
    mem.addData((1 to 20).map(i => (i.toLong, s"v$i")): _*)
    q.processAllAvailable()
    // A batch of mostly-null values trips the null-rate gate: it must
    // land in quarantine, NOT in the sink — and the stream survives.
    mem.addData((21 to 40).map(i => (i.toLong, null: String)): _*)
    q.processAllAvailable()
    // A clean follow-up batch still publishes.
    mem.addData((41L, "z"))
    q.processAllAvailable(); q.stop()
    val latest = Upsert.latestVersion(spark, path)
    val state = Upsert.readSnapshot(spark, path, latest)
      .as[(Long, String)].collect().toMap
    assert(state.size == 21 && state(41L) == "z" && !state.contains(25L),
      s"drifted batch must not publish, clean ones must: ${state.size}")
    val quarantined = spark.read.parquet(quar)
    assert(quarantined.count() == 20 &&
      quarantined.columns.contains("__batch_id"),
      "refused batch parked whole in quarantine with its batch id")

    // ── dead-letter replay: the loop's missing half ────────────────
    val refusedId = quarantined.select("__batch_id")
      .as[Long].head()
    // Ungated replay would re-refuse (nothing about the batch changed):
    // same thresholds → still refused, still quarantined, run survives.
    val still = EventStream.replayQuarantine(spark, quar, path,
      Seq(refusedId), Seq("id"), Seq("id"),
      maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0)
    assert(still.isEmpty, s"unblessed replay must not publish: $still")
    assert(Upsert.latestVersion(spark, path) == latest)
    // The human blesses it: force-replay publishes, and the sink state
    // equals the never-refused run (all 41 keys, nulls included).
    val replayed = EventStream.replayQuarantine(spark, quar, path,
      Seq(refusedId), Seq("id"), Seq("id"),
      maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0, force = true)
    assert(replayed == Seq(refusedId), s"blessed replay publishes: $replayed")
    val after = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path))
    assert(after.count() == 41 &&
      after.filter(col("id") === 25L).select("v").head().isNullAt(0),
      "replayed rows land with their original content")
    // Replay is IDEMPOTENT: the consumed marker stops a second pass.
    val again = EventStream.replayQuarantine(spark, quar, path,
      Seq(refusedId), Seq("id"), Seq("id"),
      maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0, force = true)
    assert(again.isEmpty && Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).count() == 41,
      "a consumed batch never replays twice")
    // A never-populated quarantine (or one holding only _replayed
    // markers, invisible to the parquet read) is a no-op, not a
    // schema-inference crash.
    val emptyQ = java.nio.file.Files.createTempDirectory("gss_eq")
      .toString + "/q"
    new java.io.File(emptyQ, "_replayed").mkdirs()
    assert(EventStream.replayQuarantine(spark, emptyQ, path,
      Seq(0L), Seq("id"), Seq("id"),
      maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0).isEmpty)
  }

  test("streaming funnel finalizes to the batch funnel; pre-step events ignored") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.funnelUpdates(mem.toDS(), spark,
        Seq("view", "click", "purchase"), watermark = "30 minutes")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append()).start()
    // user 7 clicks BEFORE viewing (must not count), then views; user 8
    // views only.
    mem.addData(
      ev(1, "2024-01-01 09:00:00", 7, "click", 0),
      ev(2, "2024-01-01 09:10:00", 7, "view", 0),
      ev(3, "2024-01-01 09:20:00", 8, "view", 0))
    q.processAllAvailable()
    // the qualifying click + purchase, plus a far-future watermark pusher
    mem.addData(
      ev(4, "2024-01-01 09:30:00", 7, "click", 0),
      ev(5, "2024-01-01 09:40:00", 7, "purchase", 0),
      ev(6, "2024-01-01 12:00:00", 99, "view", 0))
    q.processAllAvailable()
    // watermark passes every real event -> timeouts fire, funnels finalize
    mem.addData(ev(7, "2024-01-01 14:00:00", 99, "click", 0))
    q.processAllAvailable(); q.stop()
    def ms(t: String) = Timestamp.valueOf(t).getTime
    // LAST update per user is the funnel
    val last = spark.table("funnel_out").as[EventStream.FunnelUpdate]
      .collect().groupBy(_.user_id)
      .map { case (u, ups) => u -> ups.maxBy(_.reached) }
    assert(last(7L).reached == 3 && last(7L).times == Seq(
      ms("2024-01-01 09:10:00"), ms("2024-01-01 09:30:00"),
      ms("2024-01-01 09:40:00")), s"user 7: ${last(7L)}")
    assert(last(8L).reached == 1 &&
      last(8L).times.tail == Seq(-1L, -1L), s"user 8: ${last(8L)}")
    // and the batch twin agrees on the same admitted events
    val batch = graft.ops.Analytics.funnel(
        Seq(
          ev(1, "2024-01-01 09:00:00", 7, "click", 0),
          ev(2, "2024-01-01 09:10:00", 7, "view", 0),
          ev(3, "2024-01-01 09:20:00", 8, "view", 0),
          ev(4, "2024-01-01 09:30:00", 7, "click", 0),
          ev(5, "2024-01-01 09:40:00", 7, "purchase", 0)).toDF(),
        col("user_id"), col("ts"),
        Seq("v" -> (col("event_type") === "view"),
          "c" -> (col("event_type") === "click"),
          "p" -> (col("event_type") === "purchase")))
      .orderBy("k").collect()
    assert(batch(0).getTimestamp(1).getTime == last(7L).times(0)
      && batch(0).getTimestamp(2).getTime == last(7L).times(1)
      && batch(0).getTimestamp(3).getTime == last(7L).times(2))
    assert(batch(1).getTimestamp(1).getTime == last(8L).times(0)
      && batch(1).isNullAt(2))
  }

  test("feed-maintained min/max: arrivals are arithmetic; only bound-touching departures point-recompute") {
    import graft.ops.Upsert
    val src = java.nio.file.Files.createTempDirectory("fbsrc").toString
    val agg = java.nio.file.Files.createTempDirectory("fbagg").toString
    def poll() = EventStream.changeFeedAggregatePoll(spark, src,
      Seq("id"), agg, Seq("g"), "v")
    def expected() = Upsert.readSnapshot(spark, src,
        Upsert.latestVersion(spark, src))
      .groupBy("g").agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .as[(String, Double, Double)].collect().toSet
    def maintained() = Upsert.readSnapshot(spark, agg,
        Upsert.latestVersion(spark, agg))
      .select(col("g"), col("min_v"), col("max_v"))
      .as[(String, Double, Double)].collect().toSet
    // g0: values {3,6,9,12}; g1: {1,4,7,10}; g2: {2,5,8,11}.
    Upsert.writeSnapshot(spark, src,
      (1L to 12L).map(i => (i, s"g${i % 3}", i.toDouble)).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    poll()
    assert(maintained() == expected(), "bootstrap bounds")
    // ARRIVAL extending g0's max: pure arithmetic, zero recomputes.
    Upsert.mergeSnapshot(spark, src,
      Seq(("I", 30L, "g0", 300.0)).toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    poll()
    assert(Upsert.lastFeedRefresh.get().startsWith("feed:"))
    assert(Upsert.lastFeedBoundRecomputed.get() == 0L,
      s"an extending arrival must not recompute: ${
        Upsert.lastFeedBoundRecomputed.get()}")
    assert(maintained() == expected(), "post-arrival bounds")
    // INTERIOR departure (6 is neither bound of g0): zero recomputes.
    Upsert.mergeSnapshot(spark, src,
      Seq(("D", 6L, "g0", 0.0)).toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    poll()
    assert(Upsert.lastFeedBoundRecomputed.get() == 0L,
      "an interior departure must not recompute")
    assert(maintained() == expected(), "post-interior bounds")
    // BOUND RETREAT: deleting g0's max (300) — exactly that one group
    // point-recomputes; every other group stays arithmetic.
    Upsert.mergeSnapshot(spark, src,
      Seq(("D", 30L, "g0", 0.0)).toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    poll()
    assert(Upsert.lastFeedBoundRecomputed.get() == 1L,
      s"deleting the max must recompute exactly its group: ${
        Upsert.lastFeedBoundRecomputed.get()}")
    assert(maintained() == expected(), "post-retreat bounds")
    assert(maintained().find(_._1 == "g0").get._3 == 12.0,
      "g0's max must retreat to the live 12")
    // UPDATE moving g1's min (1 -> 100): the pre-image touches the
    // bound — one recompute; min retreats to 4.
    Upsert.mergeSnapshot(spark, src,
      Seq(("U", 1L, "g1", 100.0)).toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    poll()
    assert(Upsert.lastFeedBoundRecomputed.get() == 1L)
    assert(maintained() == expected(), "post-update bounds")
    assert(maintained().find(_._1 == "g1").get._2 == 4.0,
      "g1's min must retreat to the live 4")
  }

  test("readStream.format(graft): versions are checkpointed offsets; resumes across restart, merge and compaction") {
    import graft.ops.Upsert
    val src = java.nio.file.Files.createTempDirectory("gstr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gstrck").toString
    val outDir = java.nio.file.Files.createTempDirectory("gstrout").toString
    Upsert.writeSnapshot(spark, src,
      (1L to 10L).map(i => (i, i % 3, s"v$i")).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, src,
      (11L to 14L).map(i => (i, i % 3, s"v$i")).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    // Sink-as-state twin: every micro-batch appends with its batch id,
    // so restarts prove WHICH offsets re-delivered.
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("changeFeed", "true").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("__batch", lit(id))
            .write.mode("append").parquet(outDir)
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val first = spark.read.parquet(outDir)
    assert(first.count() == 14 &&
      first.select("op").distinct().as[String].collect().toSeq == Seq("I"),
      "first batch = the CDC initial snapshot as I rows")
    // While the stream is DOWN: a COW merge, then a full compaction.
    Upsert.mergeSnapshot(spark, src,
      Seq(("U", 3L, 0L, "U3"), ("D", 7L, 1L, ""), ("I", 20L, 2L, "I20"))
        .toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    Upsert.compactSnapshots(spark, src)
    run()
    val rows = spark.read.parquet(outDir)
    assert(rows.count() == 17,
      s"restart must RESUME from the committed version — exactly the " +
        s"merge's 3 changes arrive, got ${rows.count()} rows")
    assert(Upsert.lastChangesMode.get().startsWith("recorded:"),
      s"the resumed span must ride the recorded O(changes) path even " +
        s"across the compaction: ${Upsert.lastChangesMode.get()}")
    val resumed = rows.filter(col("__batch") > 0)
      .select("op", "id").as[(String, Long)].collect().toSet
    assert(resumed == Set(("U", 3L), ("D", 7L), ("I", 20L)),
      s"resumed feed classes: $resumed")
    // Applying the feed in batch order reconstructs the latest state.
    val applied = scala.collection.mutable.Map.empty[Long, (Long, String)]
    rows.orderBy("__batch").select("op", "id", "g", "v")
      .as[(String, Long, Long, String)].collect().foreach {
        case ("D", id, _, _) => applied.remove(id)
        case (_, id, g, v) => applied(id) = (g, v)
      }
    val direct = Upsert.readSnapshot(spark, src,
        Upsert.latestVersion(spark, src))
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(applied.toMap == direct,
      "feed-applied state must equal the batch recompute")
    // Caught-up restart: no new versions → no batch re-delivered.
    run()
    assert(spark.read.parquet(outDir).count() == 17,
      "a caught-up restart must append nothing")
    // The BATCH changeFeed relation serves the same explicit span.
    val span = spark.read.format("graft").option("changeFeed", "true")
      .option("startingVersion", 2).load(src)
    assert(span.select("op", "id").as[(String, Long)].collect().toSet ==
      Set(("U", 3L), ("D", 7L), ("I", 20L)),
      "batch changeFeed span must equal the streamed span")
    // startingVersion=latest: shape-only, empty.
    assert(spark.read.format("graft").option("changeFeed", "true")
      .option("startingVersion", "latest").load(src).isEmpty)
  }

  test("change feed: zero-copy initial batch (nothing staged) and maxVersionsPerBatch caps catch-up spans") {
    import graft.ops.Upsert
    val src = java.nio.file.Files.createTempDirectory("gzc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gzcck").toString
    val outDir = java.nio.file.Files.createTempDirectory("gzcout").toString
    Upsert.writeSnapshot(spark, src,
      (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))                                      // v1
    Upsert.mergeSnapshot(spark, src,
      Seq(("I", 20L, "i20")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")                                // v2
    Upsert.mergeSnapshot(spark, src,
      Seq(("U", 1L, "u1"), ("D", 2L, "")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")                                // v3
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true")
      .option("maxVersionsPerBatch", 1).load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batchIds += id
        df.withColumn("__batch", lit(id)).write.mode("append")
          .parquet(outDir)
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // Admission control: three capped spans (0→1, 1→2, 2→3), never
    // one giant 0→3 catch-up batch.
    assert(batchIds.size == 3,
      s"maxVersionsPerBatch=1 over 3 versions must run 3 micro-batches, " +
        s"got $batchIds")
    val rows = spark.read.parquet(outDir)
    assert(rows.count() == 8 + 1 + 2, s"8 I + 1 I + (U,D): ${rows.count()}")
    // Zero-copy: the initial batch (0→1) serves the sink's own files —
    // NOTHING staged for it; later spans stage (and commit sweeps them).
    val staged = new java.io.File(ckpt, "graft-staged")
    val stagedNames = Option(staged.listFiles())
      .map(_.map(_.getName).toSeq).getOrElse(Seq.empty)
    assert(!stagedNames.exists(_.startsWith("0-")),
      s"the initial snapshot must not be staged: $stagedNames")
    // Content: replaying the feed in batch order reconstructs v3.
    val applied = scala.collection.mutable.Map.empty[Long, String]
    rows.orderBy("__batch").select("op", "id", "v")
      .as[(String, Long, String)].collect().foreach {
        case ("D", id, _) => applied.remove(id)
        case (_, id, v) => applied(id) = v
      }
    val direct = Upsert.readSnapshot(spark, src, 3)
      .as[(Long, String)].collect().toMap
    assert(applied.toMap == direct,
      "capped feed application must reconstruct the latest state")
  }

  test("streaming change feed serves decimal, struct, map, array<struct> columns") {
    import graft.ops.Upsert
    val src = java.nio.file.Files.createTempDirectory("gnest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gnestck").toString
    val outDir = java.nio.file.Files.createTempDirectory("gnestout").toString
    def rows(ops: (String, Long, String)*) =
      ops.toDF("op", "id", "tag")
        .withColumn("dec", (col("id") * 1.5).cast("decimal(28,6)"))
        .withColumn("st", struct(col("id").as("a"), col("tag").as("b")))
        .withColumn("m", map(col("tag"), col("id").cast("double")))
        .withColumn("as", array(struct(col("id").as("x"),
          col("tag").as("y"))))
    Upsert.writeSnapshot(spark, src,
      rows((1L to 6L).map(i => ("I", i, "a")): _*).drop("op"),
      Seq("id"), Seq("id"))                                      // v1
    Upsert.mergeSnapshot(spark, src,
      rows(("U", 2L, "b"), ("D", 5L, "b"), ("I", 7L, "b")),
      Seq("id"), Seq("id"), "op")                                // v2 CoW
    Upsert.mergeSnapshotMoR(spark, src,
      rows(("U", 3L, "c"), ("D", 4L, "c"), ("I", 8L, "c")),
      Seq("id"), Seq("id"), "op")                                // v3 MoR
    // One version per micro-batch, so batch k is the span (k, k+1]:
    // the zero-copy initial snapshot, then the two staged merge spans.
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true")
      .option("maxVersionsPerBatch", 1).load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("__batch", lit(id)).write.mode("append")
          .parquet(outDir)
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(outDir)
    def json(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(
          Seq("op", "id", "tag", "dec", "st", "m", "as").map(col): _*)))
        .as[String].collect().toSet
    for (k <- 0 to 2) {
      val span = spark.read.format("graft").option("changeFeed", "true")
        .option("startingVersion", k).option("endingVersion", k + 1)
        .load(src)
      val got = json(streamed.filter(col("__batch") === k))
      assert(got.nonEmpty && got == json(span),
        s"streamed span ($k, ${k + 1}] must equal the batch feed read")
    }
  }

  test("change-feed subscription: downstream aggregate tracks merges, MoR, compaction; replay-safe; erasure forces recompute") {
    import graft.ops.Upsert
    val src = java.nio.file.Files.createTempDirectory("feedsrc").toString
    val agg = java.nio.file.Files.createTempDirectory("feedagg").toString
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def expected() = Upsert.readSnapshot(spark, src,
        Upsert.latestVersion(spark, src))
      .groupBy("g").agg(count(lit(1)).as("n"), count(col("v")).as("n_val"),
        sum(col("v").cast(dec)).cast(dec).as("sum_v"))
      .as[(String, Long, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, r._2, r._3, Option(r._4).map(_.toPlainString)))
      .toSet
    def maintained() = Upsert.readSnapshot(spark, agg,
        Upsert.latestVersion(spark, agg))
      .select(col("g"), col("n"), col("n_val"), col("sum_v"))
      .as[(String, Long, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, r._2, r._3, Option(r._4).map(_.toPlainString)))
      .toSet
    def poll() = EventStream.changeFeedAggregatePoll(spark, src,
      Seq("id"), agg, Seq("g"), "v")
    // Bootstrap.
    Upsert.writeSnapshot(spark, src,
      (1L to 12L).map(i => (i, s"g${i % 3}", i.toDouble)).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    poll()
    assert(Upsert.lastFeedRefresh.get() == "recompute")
    assert(maintained() == expected(), "bootstrap equality")
    // COW merge: U moves a value, D empties nothing, I adds — the
    // span must apply INCREMENTALLY (no recompute).
    Upsert.mergeSnapshot(spark, src,
      Seq(("U", 3L, "g0", 300.0), ("D", 6L, "g0", 0.0),
        ("I", 20L, "g9", 20.0)).toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    poll()
    assert(Upsert.lastFeedRefresh.get().startsWith("feed:"),
      s"merge span must apply incrementally: ${Upsert.lastFeedRefresh.get()}")
    assert(maintained() == expected(), "post-merge equality")
    // A D that EMPTIES a group: the aggregate row must vanish.
    Upsert.mergeSnapshotMoR(spark, src,
      Seq(("D", 20L, "g9", 0.0)).toDF("op", "id", "g", "v"),
      Seq("id"), Seq("id"), "op")
    poll()
    assert(Upsert.lastFeedRefresh.get().startsWith("feed:"))
    assert(maintained() == expected(), "post-MoR equality")
    assert(!maintained().exists(_._1 == "g9"), "emptied group vanishes")
    // Compaction: a pure repackaging is a no-op span (marker advances).
    Upsert.compactSnapshots(spark, src)
    poll()
    assert(Upsert.lastFeedRefresh.get() == "noop")
    assert(poll() >= 1 && Upsert.lastFeedRefresh.get() == "noop",
      "caught-up polls are no-ops")
    // Crash replay: the marker vanishing after a publish (the only
    // crash window) must force a recompute that still converges.
    val aggV = Upsert.latestVersion(spark, agg)
    new java.io.File(agg + "/_snapshots", s"v$aggV.feed").delete()
    Upsert.writeSnapshot(spark, src,
      Seq((30L, "g1", 30.0)).toDF("id", "g", "v"), Seq("id"), Seq("id"))
    poll()
    assert(Upsert.lastFeedRefresh.get() == "recompute",
      "a missing marker is an unknown coverage — recompute, never guess")
    assert(maintained() == expected(), "post-crash equality")
    // Erasure edits history in place — the feed is blind to it; the
    // erase fingerprint must force a recompute that drops the subject.
    Upsert.eraseKeys(spark, src, Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    poll()
    assert(Upsert.lastFeedRefresh.get() == "recompute",
      "erasure must invalidate the feed marker")
    assert(maintained() == expected(), "post-erasure equality")
    assert(Upsert.readSnapshot(spark, agg,
        Upsert.latestVersion(spark, agg))
      .filter(col("sum_v") === 300.0).isEmpty,
      "the erased subject's contribution is gone")
  }

  test("expiring a feed aggregate's old versions deletes every file they own, coverage markers included") {
    import graft.ops.Upsert
    val src = java.nio.file.Files.createTempDirectory("feedexpsrc").toString
    val agg = java.nio.file.Files.createTempDirectory("feedexpagg").toString
    def poll() = EventStream.changeFeedAggregatePoll(spark, src,
      Seq("id"), agg, Seq("g"), "v")
    Upsert.writeSnapshot(spark, src,
      (1L to 6L).map(i => (i, s"g${i % 2}", i.toDouble)).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    poll()
    for (r <- 1 to 3) {
      Upsert.mergeSnapshot(spark, src,
        Seq(("U", r.toLong, s"g${r % 2}", 100.0 * r),
          ("I", 100L + r, "g9", r.toDouble)).toDF("op", "id", "g", "v"),
        Seq("id"), Seq("id"), "op")
      poll()
      assert(Upsert.lastFeedRefresh.get().startsWith("feed:"),
        s"merge $r must apply from the feed: ${Upsert.lastFeedRefresh.get()}")
    }
    val latest = Upsert.latestVersion(spark, agg)
    assert(latest >= 4, s"one aggregate version per poll, got v$latest")
    val log = new java.io.File(agg, "_snapshots")
    def owned(v: Int) = log.list().toSeq.filter(n =>
      Seq(".list", ".feed", ".src", ".meta", ".changes")
        .exists(s => n.startsWith(s"v$v$s")))
    assert(owned(1).contains("v1.feed") && owned(2).contains("v2.changes"),
      s"the expired versions carry markers and records: ${log.list().toSeq}")
    Upsert.expireSnapshots(spark, agg, latest)
    val left = (1 until latest).flatMap(owned)
    assert(left.isEmpty, s"expired versions' files remain: $left")
    assert(owned(latest).contains(s"v$latest.feed"),
      "the kept version keeps its coverage marker")
    poll()
    assert(Upsert.lastFeedRefresh.get() == "noop",
      "the kept marker still covers the source")
  }
}
