package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.ops.Upsert

/** Structured Streaming extension (north star; the reference is batch-only —
  * SURVEY.md §2.10 records the absence). The events table is the streaming
  * twin of the batch `q_window_hourly` plan: same logical aggregation,
  * incremental execution with watermarked state.
  */
object EventStream {

  /** slf4j (Spark's own logging backend) — used by the lock-retry loop,
    * whose silence would otherwise hide an indefinitely stalled feed. */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Buffered (ts, value) pairs for a key's not-yet-closable sessions —
    * bounded by the watermark + gap horizon, because anything older has
    * been emitted and removed. */
  case class SessionBuffer(ts: Seq[Long], values: Seq[Double])

  case class UserSession(user_id: Long, n_events: Long, sum_value: Double,
                         session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp)

  /** Tumbling-window counts/sums per event type with a watermark bounding
    * state: identical semantics to the batch q_window_hourly query, so the
    * two paths are mutually verifying. Pass `slide` for overlapping
    * (sliding) windows — the batch twin is q_window_sliding, and the
    * watermark bound still holds: state per (window, type) evicts once
    * the watermark passes window end, the overlap factor only multiplies
    * live windows by len/slide. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours",
                     slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide.getOrElse(window_)).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_v"))

  /** Gap-based sessionization with BOUNDED state and correct handling of
    * out-of-order arrival ACROSS micro-batches: raw (ts, value) pairs are
    * buffered per key, and a session is emitted — exactly once, then
    * dropped from the buffer — only when the WATERMARK passes its
    * `end + gap`, at which point no event that could extend or split it
    * can still arrive (anything older is dropped as late before reaching
    * this operator). Closing any earlier (e.g. inline when a beyond-gap
    * event arrives) would be wrong under reordering: an in-gap straggler
    * for the "closed" run could still show up in a later batch. Session
    * boundaries are recomputed from the sorted buffer on each firing, so
    * the result matches the batch twin (Analytics.sessionizeBatch) for
    * every arrival order the watermark admits.
    *
    * State per key = events younger than the watermark+gap horizon —
    * the same bound the aggregate-only variant had, plus the values,
    * which is the price of reorder-correctness; at 100 TB/day the
    * horizon (not the corpus) sizes the store. The timeout is set to the
    * EARLIEST open session's close time, so sessions emit as soon as
    * they are provably complete, not when the key goes fully idle. */
  def sessionize(events: Dataset[Event], spark: SparkSession,
                 gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "10 minutes"): Dataset[UserSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionBuffer]) =>
          // Split the sorted buffer into gap-separated runs.
          def sessions(buf: Seq[(Long, Double)]): Seq[Seq[(Long, Double)]] =
            buf.sortBy(_._1).foldLeft(Vector.empty[Vector[(Long, Double)]]) {
              case (acc, e) if acc.nonEmpty && e._1 - acc.last.last._1 <= gapMs =>
                acc.init :+ (acc.last :+ e)
              case (acc, e) => acc :+ Vector(e)
            }
          def emit(s: Seq[(Long, Double)]) = UserSession(userId, s.size,
            s.map(_._2).sum, new java.sql.Timestamp(s.head._1),
            new java.sql.Timestamp(s.last._1))
          val incoming = rows.map(e => (e.ts.getTime, e.value)).toSeq
          val buf = state.getOption
            .map(b => b.ts.zip(b.values)).getOrElse(Seq.empty) ++ incoming
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = sessions(buf).partition(_.last._1 + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            val keep = open.flatten
            state.update(SessionBuffer(keep.map(_._1), keep.map(_._2)))
            // Wake when the EARLIEST open session becomes closable
            // (clamped above the watermark, which Spark requires).
            state.setTimeoutTimestamp(
              math.max(open.map(_.last._1).min + gapMs, wm + 1))
          }
          closed.map(emit).iterator
      }
  }

  /** A key's funnel state: finalized first-qualifying times per step
    * (epoch ms, -1 = unreached) + events still newer than the watermark,
    * buffered until they are stable. */
  case class FunnelBuffer(fin: Seq[Long], bufTs: Seq[Long], bufStep: Seq[Int])

  /** One funnel refinement for a key: how many steps it has reached and
    * each step's first-qualifying time (ms, -1 unreached). The LAST
    * update per key is the funnel — earlier ones are its progress. */
  case class FunnelUpdate(user_id: Long, reached: Int, times: Seq[Long])

  /** Streaming ordered-step funnel — the streaming twin of
    * [[graft.ops.Analytics.funnel]] with steps named by event type:
    * step i's time is the FIRST event of its type at or after step
    * i−1's time. Correct under cross-batch reordering the same way
    * [[sessionize]] is: events buffer until the watermark passes them,
    * then fold into the finalized times in timestamp order — at that
    * point nothing earlier can still be admitted, so every finalized
    * time is exactly the batch operator's MIN over admitted events (an
    * event later than the watermark is dropped by Spark before this
    * operator and excluded from both sides of that equality). Emits an
    * update whenever finalization changes a key's funnel; a key fires
    * on new data or on the event-time timeout set to its earliest
    * buffered event.
    *
    * State: steps.size longs per key FOREVER (a funnel's memory of
    * "has this user ever viewed" is inherently per-user lifetime
    * state — bounded by the key space, not the event volume) plus the
    * watermark-horizon buffer, same bound as sessionize. */
  def funnelUpdates(events: Dataset[Event], spark: SparkSession,
                    steps: Seq[String],
                    watermark: String = "10 minutes"): Dataset[FunnelUpdate] = {
    import spark.implicits._
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "step types unique")
    val idx = steps.zipWithIndex.toMap
    events
      .withWatermark("ts", watermark)
      .filter(e => idx.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuffer, FunnelUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelBuffer]) =>
          val prior = state.getOption.getOrElse(
            FunnelBuffer(Seq.fill(steps.size)(-1L), Nil, Nil))
          val buf = prior.bufTs.zip(prior.bufStep) ++
            rows.map(e => (e.ts.getTime, idx(e.event_type)))
          val wm = state.getCurrentWatermarkMs()
          val (stable, pending) = buf.partition(_._1 <= wm)
          val fin = prior.fin.toArray
          // ts-order fold = the batch MIN-at-or-after semantics; the
          // step index tie-break lets an equal-timestamp later step
          // qualify (batch uses >=).
          stable.sortBy(identity).foreach { case (t, i) =>
            if (if (i == 0) fin(0) < 0
                else fin(i) < 0 && fin(i - 1) >= 0 && t >= fin(i - 1))
              fin(i) = t
          }
          state.update(FunnelBuffer(fin.toSeq, pending.map(_._1),
            pending.map(_._2)))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.map(_._1).min, wm + 1))
          if (fin.toSeq != prior.fin)
            Iterator.single(FunnelUpdate(userId, fin.count(_ >= 0), fin.toSeq))
          else Iterator.empty
      }
  }

  /** Streaming exact dedup: the streaming twin of `ext.Dedup.exactByKey` /
    * the upsert sink's within-batch dedup. State is bounded by the
    * watermark — a duplicate arriving later than `watermark` after the
    * original is NOT suppressed (that is the contract that makes state
    * finite at 100 TB/day; the batch anti-join sweep catches stragglers). */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming OHLCV+VWAP bars — the streaming twin of
    * `ops.Analytics.ohlcBars`, built by CALLING it on the watermarked
    * stream with a tumbling window as the bar bucket: the shared agg
    * (min_by/max_by endpoints, exact decimal vwap) runs as ONE streaming
    * aggregation whose state is a single combine-form row per
    * (symbol, window), evicted once the watermark passes window end —
    * live ticks never accumulate raw rows. Because batch and stream
    * execute the SAME aggregate expressions, the paths are mutually
    * verifying (StreamingSpec pins bar-for-bar agreement). */
  def ohlcBars(events: DataFrame, price: Column, qty: Column,
               window_ : String = "1 hour",
               watermark: String = "2 hours"): DataFrame =
    graft.ops.Analytics.ohlcBars(
        events.withWatermark("ts", watermark),
        Seq(col("event_type")), window(col("ts"), window_), col("ts"),
        col("event_id"), price, qty)
      .select(col("bar.start").as("bucket"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("vwap"))

  /** Watermarked stream-stream interval join: attach to each purchase the
    * same user's most-recent-window signup value — the streaming analogue
    * of the batch backward as-of join (Analytics.asOfJoinBackward), with
    * the unbounded "latest ever" lookback replaced by a bounded interval
    * so both join-state stores can evict by watermark.
    *
    * `joinType` "inner" (default) emits matches as they meet;
    * "left_outer" ADDITIONALLY emits each unmatched purchase with a NULL
    * `sig_val` — but only once the watermark has passed the point where
    * a matching signup could still arrive (Structured Streaming's outer
    * semantics: the null verdict must be final, so it waits out the
    * watermark delay — plan on that latency downstream). */
  def intervalJoin(purchases: DataFrame, signups: DataFrame,
                   lookback: String = "1 hour",
                   watermark: String = "2 hours",
                   joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer")(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val l = purchases.withWatermark("ts", watermark)
      .select(col("event_id"), col("user_id").as("l_user"), col("ts").as("l_ts"))
    val r = signups.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("value").as("sig_val"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback"),
      joinType)
      .select(col("event_id"), col("l_user").as("user_id"),
        col("l_ts").as("ts"), col("sig_val"))
  }

  /** File-source streaming read of an events directory with the testdata
    * schema — readStream → transforms → writeStream wiring. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Start `stream` with `write` as its `foreachBatch` sink, in update
    * mode under `checkpoint`. Every sink below starts here. */
  private def startBatchSink(stream: DataFrame, checkpoint: String)(
      write: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch(write)
      .start()

  /** The latest published state of the snapshot sink at `path`, or None
    * before its first publish. */
  private def latestState(s: SparkSession, path: String): Option[DataFrame] = {
    val v = Upsert.latestVersion(s, path)
    if (v == 0) None else Some(Upsert.readSnapshot(s, path, v))
  }

  /** Streaming NEAR-dup dedup sink — the near-dup twin of
    * `dedupWithinWatermark` (which is exact-only), built as the
    * incremental-dedup shape (`Dedup.dedupAgainstReferenceWithBands`)
    * driven from foreachBatch. Each micro-batch:
    *
    *  1. dedups WITHIN itself: exact key drop + verified near-dup
    *     eviction (MinHash → LSH candidates → Jaccard verify);
    *  2. dedups AGAINST everything accepted so far: exact content-hash
    *     anti-join, then batch bands equi-joined against the PERSISTED
    *     band table — candidates only within buckets, never
    *     batch × corpus, and the curated corpus is never re-signed
    *     (each accepted doc is signed once);
    *  3. publishes the survivors' bands to the snapshot sink
    *     `<sink>/bands` (keyed on (`docKey`, `band_id`)), then the
    *     survivors to the snapshot sink `<sink>/docs` (keyed on
    *     `docKey`), each through [[Upsert.writeSnapshot]].
    *
    * State lives in the SINK, as in [[snapshotSink]]: no streaming
    * state store grows with the corpus, so no watermark is needed for
    * boundedness (compose `dedupWithinWatermark` upstream to pre-thin
    * exact duplicates cheaply). Both tables are snapshot sinks: they
    * time-travel, the catalog lists them, and a re-delivered batch
    * publishes an empty-delta version to each. A REPLAYED batch is
    * removed wholesale by the exact pass; a later doc that reuses an
    * accepted key is dropped as keep-existing. Bands publish first and
    * both sides keep existing rows, so a replay after a crash between
    * the two publishes re-admits the doc and adds no duplicate band
    * rows. */
  def nearDupDedupSink(stream: DataFrame, sinkPath: String, docKey: String,
                       textCol: String, k: Int, bands: Int, rowsPerBand: Int,
                       threshold: Double, checkpoint: String): StreamingQuery = {
    import graft.ext.Dedup
    val docsPath = s"$sinkPath/docs"
    val bandsPath = s"$sinkPath/bands"
    startBatchSink(stream, checkpoint) { (batch0, _) =>
      val s = batch0.sparkSession
      val b1 = batch0.dropDuplicates(docKey)
      val within = Dedup.verifiedNearDupPairs(b1, docKey, textCol,
        k, bands, rowsPerBand, threshold)
      val b2 = Dedup.removeNearDups(b1, within, docKey)
      val accepted = latestState(s, docsPath).fold(b2) { ref =>
        Dedup.dedupAgainstReferenceWithBands(b2, ref,
          Upsert.readSnapshot(s, bandsPath, Upsert.latestVersion(s, bandsPath)),
          docKey, textCol, k, bands, rowsPerBand, threshold)
      }.localCheckpoint() // two publishes below — don't run the chain twice
      Upsert.writeSnapshot(s, bandsPath,
        Dedup.lshBands(Dedup.minhashSignature(accepted, docKey, textCol, k),
          docKey, bands, rowsPerBand),
        Seq(docKey, "band_id"), Seq(docKey))
      Upsert.writeSnapshot(s, docsPath, accepted, Seq(docKey), Seq(docKey))
      ()
    }
  }

  /** Streaming WINNOW-fingerprint dedup sink — the fuzzy twin of
    * [[nearDupDedupSink]] built on MOSS winnowing instead of
    * MinHash-LSH-verify: a doc is a duplicate when it shares at least
    * `minShared` distinct selected fingerprint hashes with an accepted
    * doc (the [[graft.ext.TextAnalysis.winnowSimilarPairs]] criterion —
    * any shared substring ≥ w+k−1 chars guarantees a shared selection,
    * so this catches copied PASSAGES, not just near-identical docs).
    * Each micro-batch:
    *
    *  1. dedups WITHIN itself (within-batch pairs, greedy higher-id
    *     eviction);
    *  2. drops exact replays (content-hash anti-join against `docs` —
    *     the bloom-composed [[graft.ext.Dedup.freshByContent]] guard,
    *     which also makes at-least-once delivery exactly-once even for
    *     docs too short to carry `minShared` fingerprints);
    *  3. drops fuzzy duplicates: batch fingerprints equi-join the
    *     PERSISTED `fps` table on the hash — candidates only inside a
    *     shared fingerprint's bucket, never batch × corpus — and a
    *     per-(batch doc, landed doc) distinct-hash count ≥ `minShared`
    *     evicts;
    *  4. publishes the survivors' fingerprints to the snapshot sink
    *     `<sink>/fps` (keyed on (`docKey`, `fp`)), then the survivors to
    *     the snapshot sink `<sink>/docs` (keyed on `docKey`).
    *
    * Both tables are snapshot sinks, as in [[nearDupDedupSink]]: they
    * time-travel, the catalog lists them, a re-delivered batch
    * publishes an empty-delta version to each, and a later doc that
    * reuses an accepted key is dropped as keep-existing. Fingerprints
    * publish first and both sides keep existing rows, so a replay after
    * a crash between the two publishes adds no duplicate rows. A
    * fingerprint match IS the eviction decision here, so the landed
    * side is still SEMI-JOINED to `docs` keys before matching: an
    * orphan fingerprint from such a crash can never evict its own
    * replayed doc. State lives in the sink — no streaming state store
    * grows with the corpus. */
  def winnowDedupSink(stream: DataFrame, sinkPath: String, docKey: String,
                      textCol: String, k: Int, w: Int, minShared: Int,
                      checkpoint: String): StreamingQuery = {
    import graft.ext.{Dedup, TextAnalysis}
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val docsPath = s"$sinkPath/docs"
    val fpsPath = s"$sinkPath/fps"
    startBatchSink(stream, checkpoint) { (batch0, _) =>
      val s = batch0.sparkSession
      val b1 = batch0.dropDuplicates(docKey)
      val within = TextAnalysis.winnowSimilarPairs(b1, docKey, textCol,
        k, w, minShared).select(col("a"), col("b"))
      val b2 = Dedup.removeNearDups(b1, within, docKey)
      val accepted = latestState(s, docsPath).fold(b2) { ref =>
        // A doc reusing an accepted key drops here, before its
        // fingerprints could land under that key.
        val fresh = Dedup.freshByContent(b2, ref, textCol)
          .join(ref.select(col(docKey)), Seq(docKey), "left_anti")
        // Orphan-proof landed side: only fingerprints whose doc actually
        // published to docs may evict.
        val landed = Upsert.readSnapshot(s, fpsPath,
            Upsert.latestVersion(s, fpsPath))
          .join(ref.select(col(docKey)), Seq(docKey), "left_semi")
          .select(col(docKey).as("__ref"), col("fp")).distinct()
        val batchFps = TextAnalysis.winnowFingerprints(fresh, docKey,
            textCol, k, w)
          .select(col(docKey), col("fp")).distinct()
        val dupIds = batchFps.join(landed, Seq("fp"))
          .groupBy(col(docKey), col("__ref"))
          .agg(count(lit(1)).as("__sh"))
          .filter(col("__sh") >= minShared)
          .select(col(docKey)).distinct()
        fresh.join(dupIds, Seq(docKey), "left_anti")
      }.localCheckpoint() // two publishes below — don't run the chain twice
      Upsert.writeSnapshot(s, fpsPath,
        TextAnalysis.winnowFingerprints(accepted, docKey, textCol, k, w)
          .select(col(docKey), col("fp")).distinct(),
        Seq(docKey, "fp"), Seq(docKey))
      Upsert.writeSnapshot(s, docsPath, accepted, Seq(docKey), Seq(docKey))
      ()
    }
  }

  /** Streaming decontamination: publish to the snapshot sink at
    * `sinkPath` only the arriving documents that share fewer than
    * `minHits` distinct n-gram shingles with the benchmark set — the
    * streaming twin of `Contamination.decontaminate`, in the
    * [[nearDupDedupSink]] mold: state lives in the SINK plus one STATIC
    * bench-side table, never in a streaming state store, so nothing
    * grows with the stream and no watermark is needed for boundedness.
    *
    * The df-capped bench shingle table is computed ONCE here (eager
    * `localCheckpoint` — benchmark sets are small by construction) and
    * broadcast into every micro-batch's detection join; the batch side
    * pays exactly the batch operator's cost per arrival and the
    * benchmark is never re-shingled.
    *
    * Exactly once per content: every sink row carries a `__fp` column
    * (md5 of its text, the reserved-name convention) and the sink is
    * keyed on it, so [[Upsert.writeSnapshot]]'s keep-existing publish
    * IS the replay guard — a re-delivered batch publishes an
    * empty-delta version. Within one batch, same-content docs under
    * different keys land once, keeping the lowest `docKey`. The guard
    * costs O(batch), not O(sink): the keep-existing probe prunes the
    * sink's dirs by the range stats and `.bloom2` sidecar each publish
    * writes on `__fp`, so a batch of fresh content opens no sink dir
    * that carries a bloom (a dir too large for one is pruned on its
    * range alone), and only
    * bloom hits (replays, re-delivered content, false positives) read
    * the `__fp` column of the dirs that may hold them. The fingerprint
    * is NULL-SAFE: null-text docs map to a sentinel outside the md5 hex
    * space, because a NULL key never matches and would re-land on every
    * replay. The sink time-travels and the catalog lists it. */
  def decontaminationSink(stream: DataFrame, bench: DataFrame,
                          sinkPath: String, docKey: String, textCol: String,
                          n: Int, minHits: Int, maxShingleDf: Int,
                          checkpoint: String): StreamingQuery = {
    import graft.ext.Contamination
    val benchSh = Contamination
      .cappedBenchShingles(bench, docKey, textCol, n, maxShingleDf)
      .localCheckpoint()
    startBatchSink(stream, checkpoint) { (batch0, _) =>
      val clean = Contamination.decontaminateAgainst(
        batch0.dropDuplicates(docKey), benchSh, docKey, textCol, n, minHits)
      Upsert.writeSnapshot(batch0.sparkSession, sinkPath,
        clean.withColumn("__fp",
          coalesce(md5(col(textCol)), lit("__fp:null-text"))),
        Seq("__fp"), Seq(docKey))
      ()
    }
  }

  /** Streaming TRENDING-TERM counts: watermarked tumbling-window word
    * counts over a text stream — the drift canary for live ingest (a
    * term surging inside one window is template spam, an event, or a
    * new crawl source; all three deserve a look before the mixture
    * shifts). Explode is map-side; the windowed agg is the same
    * partial-agg + state-store shape as [[tumblingCounts]], keyed by
    * (window, term) with the watermark bounding state. Top-k per
    * window is a BATCH read over the sink table
    * ([[topTermsPerWindow]]) — streaming cannot rank inside the
    * micro-batch without a per-window shuffle every trigger, and the
    * sink table is exactly the (window, term, n) relation the rank
    * wants. */
  def windowedTermCounts(docs: DataFrame, tsCol: String, textCol: String,
                         window_ : String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .groupBy(window(col(tsCol), window_), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("term"), col("n"))

  /** The batch rank over a [[windowedTermCounts]] sink: top `k` terms
    * per window, count-descending with term tiebreak (total order —
    * deterministic on any cluster). */
  def topTermsPerWindow(counts: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    graft.ops.Analytics.topKPerGroup(counts, Seq("win_start"),
      Seq(col("n").desc, col("term")), k)
  }

  /** Streaming LEARNED-quality gate — the streaming twin of
    * [[graft.ext.Classify.scoreLinear]] ∘ filter(label = 'keep'),
    * composed with the keyed keep-existing publish so at-least-once
    * replays add nothing. Per micro-batch: score against the broadcast
    * weight table (map-only + ONE batch-local per-doc agg — no
    * cross-batch streaming state; the model is the only state and it is
    * read-only), keep docs whose 6dp sigmoid clears the threshold,
    * re-attach the batch's payload columns by key, then publish them to
    * the snapshot sink at `sinkPath` through [[Upsert.writeSnapshot]],
    * keyed on `docKey` with tie-break `prob`. A re-delivered batch
    * publishes an empty-delta version, and a later doc that reuses an
    * accepted key is dropped as keep-existing. The sink time-travels
    * and the catalog lists it. State lives in the sink table itself —
    * nothing grows with stream length. */
  def classifierGatedSink(stream: DataFrame, sinkPath: String, docKey: String,
                          textCol: String, weights: DataFrame, buckets: Int,
                          bias: Double, threshold: Double,
                          checkpoint: String): StreamingQuery =
    startBatchSink(stream, checkpoint) { (batch, _) =>
      val kept = graft.ext.Classify
        .scoreLinear(batch, docKey, textCol, weights, buckets, bias, threshold)
        .filter(col("label") === "keep")
        .select(col(docKey), col("prob"))
        .join(batch, Seq(docKey))
      Upsert.writeSnapshot(batch.sparkSession, sinkPath, kept, Seq(docKey),
        Seq("prob"))
      ()
    }

  /** Streaming front end of the SNAPSHOT-VERSIONED sink
    * ([[graft.ops.Upsert.writeSnapshot]]): every micro-batch publishes
    * one new snapshot version whose delta is the batch's fresh rows —
    * so the sink is simultaneously an upsert table (read the latest
    * version), a changelog (read the deltas), and a time-travel archive
    * (read any historical version), all from one write path. Replay
    * safety is CONTENT-level: a re-delivered micro-batch publishes a
    * version with an EMPTY delta (keep-existing anti-join), so readers
    * of any version see no duplicates — version numbers may advance on
    * replay, row content never does. */
  def snapshotSink(stream: DataFrame, sinkPath: String, keys: Seq[String],
                   tieBreak: Seq[String], checkpoint: String): StreamingQuery =
    startBatchSink(stream, checkpoint) { (batch, _) =>
      Upsert.writeSnapshot(batch.sparkSession, sinkPath, batch, keys, tieBreak)
      ()
    }

  /** [[snapshotSink]] behind the PROFILE-DRIFT GATE, with a DEAD-LETTER
    * path: each micro-batch publishes via
    * [[graft.ops.Upsert.writeSnapshotGated]]; a batch the gate refuses
    * is written whole to `quarantinePath` (append, with a `__batch_id`
    * column for replay bookkeeping) and the stream KEEPS RUNNING — the
    * one wrong answer for a durable feed is dying on a data-quality
    * blip, and the second-wrong is publishing it. Quarantined batches
    * are for a human: inspect, fix or bless, and re-feed. Gate
    * violations also log to stderr with the refused version's reason
    * string (the exception message lists breached rules per column). */
  def snapshotSinkGated(stream: DataFrame, sinkPath: String,
      keys: Seq[String], tieBreak: Seq[String], checkpoint: String,
      quarantinePath: String,
      maxNullRateJump: Double, maxRowGrowthPct: Double,
      minRowGrowthPct: Double = 0.0): StreamingQuery =
    startBatchSink(stream, checkpoint) { (batch, batchId) =>
      try {
        Upsert.writeSnapshotGated(batch.sparkSession, sinkPath, batch,
          keys, tieBreak, maxNullRateJump, maxRowGrowthPct,
          minRowGrowthPct)
        ()
      } catch {
        // TYPED, not message-matched: routing on exception text is
        // exactly the fragility the LockHeldException rework removed
        // — a reworded gate message would turn quarantining into
        // stream death silently.
        case e: graft.ops.DriftRefusedException =>
          System.err.println(
            s"[snapshotSinkGated] batch $batchId quarantined: " +
              e.getMessage)
          batch.withColumn("__batch_id", lit(batchId))
            .write.mode("append").parquet(quarantinePath)
      }
    }

  /** Retry `f` while it throws [[graft.ops.LockHeldException]] — the
    * TYPED signal that a rewriter (compaction, another merge) holds the
    * sink's exclusive lock — with exponential backoff (250 ms doubling
    * to a 10 s cap) until `budgetMs` elapses, then rethrow. The r15
    * shape matched on exception TEXT with a hard 60 s budget: a
    * reworded message silently turned every collision fatal, and any
    * compaction longer than a minute killed the production CDC feed.
    * Compaction's critical section now covers only its metadata publish
    * ([[graft.ops.Upsert.compactSnapshots]]), so waits are short — but
    * a STREAMING caller's default is still wait-forever: dying is the
    * one wrong answer for a feed whose input is durable upstream. */
  private[graft] def retryWhileLocked[A](budgetMs: Long)(f: => A): A = {
    // Any budget too large to convert to nanos without overflow IS
    // unbounded ((Long.MaxValue - now)/1e6 ms ≈ 290 years) — a naive
    // `min(cap) * 1_000_000` wraps negative for large finite budgets
    // and would rethrow on the FIRST collision, silently restoring the
    // die-on-compaction behavior this retry exists to remove.
    val unbounded = budgetMs >= Long.MaxValue / 1000000L
    val deadline = if (unbounded) Long.MaxValue
                   else System.nanoTime() + budgetMs * 1000000L
    val startedNs = System.nanoTime()
    var sleepMs = 250L
    while (true) {
      try return f catch {
        case e: graft.ops.LockHeldException =>
          if (!unbounded && System.nanoTime() >= deadline) throw e
          // LOG every retry: the default budget is wait-forever, and a
          // crashed rewriter's orphaned lock file never expires — a
          // silent retry loop would stall the feed indefinitely with
          // no operator ever told what it is waiting for (the lock
          // message even names the manual fix). Backoff caps at 10 s,
          // so steady-state noise is ≤ 6 lines/minute.
          log.warn("sink lock held for {} s; retrying in {} ms: {}",
            (System.nanoTime() - startedNs) / 1000000000L,
            sleepMs, e.getMessage)
          Thread.sleep(sleepMs)
          sleepMs = math.min(sleepMs * 2, 10000L)
      }
    }
    sys.error("unreachable")
  }

  /** Streaming CDC APPLY: each micro-batch of change rows (opCol ∈
    * I/U/D) MERGES into the snapshot sink
    * ([[graft.ops.Upsert.mergeSnapshot]]) — the streaming front end of
    * a Debezium/binlog-style feed. Every micro-batch publishes one new
    * version; copy-on-write rewrites only the dirs holding touched
    * keys, so a trickle of updates against a compacted 100 TB snapshot
    * rewrites per-batch work, not the corpus. Replay safety is
    * CONTENT-level like [[snapshotSink]]: re-merging a delivered batch
    * republishes the same state (U re-lands its value over itself, D of
    * a gone key is a no-op, I of a present key drops) — version numbers
    * may advance on replay, row content never does. An EMPTY sink
    * bootstraps from the first batch's I/U rows. Ordering: at-least-once
    * + content idempotence needs IN-ORDER batch delivery per key, which
    * Structured Streaming's sequential foreachBatch provides; the
    * within-batch collapse picks one op per key by `tieBreak`.
    *
    * `mor = true` applies each micro-batch MERGE-ON-READ
    * ([[graft.ops.Upsert.mergeSnapshotMoR]]): trickle CDC on hot keys
    * is EXACTLY the write-amplification case deletion vectors exist
    * for — per batch the sink writes the landing dir plus key-sized
    * dvs instead of rewriting every touched dir. Pair with a
    * compaction cadence (each compaction folds the accumulated dvs
    * physically and resets the read tax). */
  def cdcMergeSink(stream: DataFrame, sinkPath: String, keys: Seq[String],
                   tieBreak: Seq[String], opCol: String,
                   checkpoint: String,
                   lockWaitMs: Long = Long.MaxValue,
                   mor: Boolean = false): StreamingQuery =
    startBatchSink(stream, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      // upper() here must mirror mergeSnapshot's own normalization:
      // a lowercase-op feed's FIRST batch would otherwise bootstrap
      // empty (every row filtered) while later batches merge fine —
      // a silent, permanent loss of the first batch.
      if (Upsert.latestVersion(s, sinkPath) == 0) {
        // Bootstrap must mirror mergeSnapshot's dedup-THEN-apply: the
        // per-key op collapse picks one winning op per key BEFORE any
        // filtering, so a key whose tieBreak winner is D (an I and a
        // D of the same key in the first batch) bootstraps ABSENT —
        // filtering to I/U first would resurrect the discarded I row.
        val collapsed = Upsert.dedupOnKey(
          batch.withColumn(opCol, upper(col(opCol))), keys, tieBreak)
        Upsert.writeSnapshot(s, sinkPath,
          collapsed.filter(col(opCol).isin("I", "U")).drop(opCol),
          keys, tieBreak)
      } else
        retryWhileLocked(lockWaitMs)(
          if (mor)
            Upsert.mergeSnapshotMoR(s, sinkPath, batch, keys, tieBreak, opCol)
          else
            Upsert.mergeSnapshot(s, sinkPath, batch, keys, tieBreak, opCol))
      ()
    }

  /** Re-feed BLESSED quarantined batches into the gated snapshot sink —
    * the missing half of [[snapshotSinkGated]]'s dead-letter loop (the
    * sink wrote refused batches with a `__batch_id`; until now an
    * operator had to hand-write the replay). Each requested batch that
    * is (a) present in the quarantine and (b) not already replayed goes
    * back through the SAME gate via
    * [[graft.ops.Upsert.writeSnapshotGated]]; `force = true`
    * publishes ungated ([[graft.ops.Upsert.writeSnapshot]]) — the
    * explicit human override for a batch that is correct even though
    * the thresholds still flag it. A batch the gate STILL refuses is
    * skipped (left quarantined, later batches still replay) rather than
    * failing the run. Replayed batches are marked consumed via
    * `_replayed/b<id>.done` markers inside the quarantine dir (an
    * underscore path, so quarantine reads ignore it) — replay is
    * idempotent, and at-least-once replay is content-safe anyway
    * (keep-existing publishes an empty delta on re-delivery). Batches
    * replay in ascending id order — the order the stream would have
    * published them. Returns the batch ids actually published. */
  def replayQuarantine(spark: SparkSession, quarantinePath: String,
      sinkPath: String, batchIds: Seq[Long], keys: Seq[String],
      tieBreak: Seq[String], maxNullRateJump: Double,
      maxRowGrowthPct: Double, minRowGrowthPct: Double = 0.0,
      force: Boolean = false): Seq[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(quarantinePath),
      spark.sparkContext.hadoopConfiguration)
    val markerDir = new org.apache.hadoop.fs.Path(quarantinePath, "_replayed")
    fs.mkdirs(markerDir)
    def marker(id: Long) =
      new org.apache.hadoop.fs.Path(markerDir, s"b$id.done")
    // mergeSchema: the quarantine accumulates heterogeneous refused
    // batches over the stream's life — schema drift is exactly why
    // batches land here, and a single-footer read would silently drop
    // a later batch's added columns on the blessed replay. An empty or
    // marker-only quarantine (underscore paths are invisible to the
    // read) is a no-op, not a schema-inference crash.
    val all =
      try spark.read.option("mergeSchema", "true").parquet(quarantinePath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null &&
              e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          return Nil
      }
    // Bounded driver set: one id per refused micro-batch, the same
    // metadata class as the sink's manifest listings.
    val present = all.select(col("__batch_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    batchIds.distinct.sorted
      .filter(present.contains).filterNot(id => fs.exists(marker(id)))
      .filter { id =>
        val batch = all.filter(col("__batch_id") === id).drop("__batch_id")
        val ok =
          try {
            if (force)
              Upsert.writeSnapshot(spark, sinkPath, batch,
                keys, tieBreak)
            else
              Upsert.writeSnapshotGated(spark, sinkPath, batch,
                keys, tieBreak, maxNullRateJump, maxRowGrowthPct,
                minRowGrowthPct)
            true
          } catch {
            case e: graft.ops.DriftRefusedException =>
              log.warn("replayQuarantine: batch {} still refused: {}",
                id, e.getMessage)
              false
          }
        if (ok) fs.create(marker(id), true).close()
        ok
      }
  }

  /** The canonical feed SUBSCRIBER: keep a grouped aggregate snapshot
    * in lockstep with a source snapshot sink by consuming its change
    * feed ([[graft.ops.Upsert.refreshAggregateFromFeed]]) — merges,
    * deletes and compactions apply INCREMENTALLY from the span's
    * pre/post-images; state and exactly-once bookkeeping live in the
    * aggregate sink itself (sink-as-state, like every consumer here).
    * One call = one poll; run it from a scheduler or a foreachBatch
    * hook at whatever cadence the downstream needs. */
  def changeFeedAggregatePoll(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, srcKeys: Seq[String], aggPath: String,
      groupCols: Seq[String], valueCol: String,
      lockWaitMs: Long = Long.MaxValue): Int =
    retryWhileLocked(lockWaitMs)(
      Upsert.refreshAggregateFromFeed(spark, srcPath, srcKeys,
        aggPath, groupCols, valueCol))
}
