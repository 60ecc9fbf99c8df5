package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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

  /** Streaming keep-existing upsert sink: each micro-batch dedups within
    * itself, anti-joins the partitioned parquet sink (reading ONLY the
    * partitions the batch touches — `Upsert.freshAgainstPartitionedSink`),
    * and appends the fresh keys. This turns at-least-once delivery into
    * exactly-once-per-key sink contents: a replayed batch finds all its
    * keys already present and appends nothing, which is the idempotence
    * Structured Streaming needs from a foreachBatch sink. First batch
    * bootstraps the sink (nothing to anti-join yet); an EMPTY first batch
    * commits a data-file-less sink dir, which later batches read safely
    * because the anti-join pins the batch schema instead of inferring
    * (`Upsert.freshAgainstPartitionedSink`). The 100 TB story is
    * the batch one: state lives in the sink table itself, partitioned so
    * each micro-batch prunes to its touched partitions — no streaming
    * state store grows with corpus size. */
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
    *     (each accepted doc is signed once, its bands appended once);
    *  3. appends survivors to `docs/` and their bands to `bands/`.
    *
    * State lives in the SINK, like `upsertSink`: no streaming state
    * store grows with the corpus, so no watermark is needed for
    * boundedness (compose `dedupWithinWatermark` upstream to pre-thin
    * exact duplicates cheaply). A REPLAYED batch is removed wholesale
    * by the exact pass — at-least-once delivery becomes
    * exactly-once-per-content sink contents. Empty first batch commits
    * data-file-less dirs; later reads pin the schema instead of
    * inferring (the `upsertSink` contract).
    *
    * Crash-ordering contract: `bands/` is written BEFORE `docs/`. The
    * two appends are not atomic together, so a crash can land between
    * them; with bands-first the failure mode is an ORPHAN band set — a
    * replayed batch re-admits the doc (the exact anti-join sees no
    * docs/ row) and re-appends identical band rows, so the doc is never
    * silently missing from the band table and future near-dup detection
    * against it keeps working. Duplicate band rows are benign: the
    * candidate join has set semantics (pairs are distinct-ed before
    * verify), they just cost one extra bucket row. The reverse order
    * (docs first, the r7 layout) was strictly worse: a crash there made
    * the exact pass drop the replayed doc, so its bands were NEVER
    * appended and the accepted doc became permanently invisible to
    * near-dup checks. */
  def nearDupDedupSink(stream: DataFrame, sinkPath: String, docKey: String,
                       textCol: String, k: Int, bands: Int, rowsPerBand: Int,
                       threshold: Double, checkpoint: String
                      ): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ext.Dedup
    val write: (DataFrame, Long) => Unit = (batch0, _) => {
      val s = batch0.sparkSession
      val docsPath = s"$sinkPath/docs"
      val bandsPath = s"$sinkPath/bands"
      val fs = new org.apache.hadoop.fs.Path(sinkPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val b1 = batch0.dropDuplicates(docKey)
      val within = Dedup.verifiedNearDupPairs(b1, docKey, textCol,
        k, bands, rowsPerBand, threshold)
      val b2 = Dedup.removeNearDups(b1, within, docKey)
      val exists = fs.exists(new org.apache.hadoop.fs.Path(docsPath))
      val accepted = (if (!exists) b2 else {
        val ref = s.read.schema(batch0.schema).parquet(docsPath)
        val bandSchema = Dedup.lshBands(
          Dedup.minhashSignature(b1, docKey, textCol, k),
          docKey, bands, rowsPerBand).schema
        val refBands = s.read.schema(bandSchema).parquet(bandsPath)
        Dedup.dedupAgainstReferenceWithBands(b2, ref, refBands,
          docKey, textCol, k, bands, rowsPerBand, threshold)
      }).localCheckpoint() // two writes below — don't run the chain twice
      // bands BEFORE docs — see the crash-ordering contract above.
      Dedup.lshBands(Dedup.minhashSignature(accepted, docKey, textCol, k),
          docKey, bands, rowsPerBand)
        .write.mode("append").parquet(bandsPath)
      accepted.write.mode("append").parquet(docsPath)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch(write)
      .start()
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
    *  2. drops exact replays (content-hash anti-join against `docs/` —
    *     the bloom-composed [[graft.ext.Dedup.freshByContent]] guard,
    *     which also makes at-least-once delivery exactly-once even for
    *     docs too short to carry `minShared` fingerprints);
    *  3. drops fuzzy duplicates: batch fingerprints equi-join the
    *     PERSISTED `fps/` table on the hash — candidates only inside a
    *     shared fingerprint's bucket, never batch × corpus — and a
    *     per-(batch doc, landed doc) distinct-hash count ≥ `minShared`
    *     evicts;
    *  4. appends survivors' fingerprints to `fps/` THEN the docs to
    *     `docs/`.
    *
    * Crash-ordering: with fps-first, a crash between the writes leaves
    * ORPHAN fingerprints. Unlike [[nearDupDedupSink]]'s bands (mere
    * candidates, neutralized by the text verify), a fingerprint match
    * IS the decision here — so the landed side is SEMI-JOINED to
    * `docs/` keys before matching, which filters orphans out: the
    * replayed doc re-admits, re-appends its fps (duplicate rows are
    * collapsed by the distinct on read), and lands. State lives in the
    * sink — no streaming state store grows with the corpus. */
  def winnowDedupSink(stream: DataFrame, sinkPath: String, docKey: String,
                      textCol: String, k: Int, w: Int, minShared: Int,
                      checkpoint: String
                     ): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ext.{Dedup, TextAnalysis}
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val write: (DataFrame, Long) => Unit = (batch0, _) => {
      val s = batch0.sparkSession
      val docsPath = s"$sinkPath/docs"
      val fpsPath = s"$sinkPath/fps"
      val fs = new org.apache.hadoop.fs.Path(sinkPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val b1 = batch0.dropDuplicates(docKey)
      val within = TextAnalysis.winnowSimilarPairs(b1, docKey, textCol,
        k, w, minShared).select(col("a"), col("b"))
      val b2 = Dedup.removeNearDups(b1, within, docKey)
      val exists = fs.exists(new org.apache.hadoop.fs.Path(docsPath))
      val accepted = (if (!exists) b2 else {
        val ref = s.read.schema(batch0.schema).parquet(docsPath)
        val fresh = Dedup.freshByContent(b2, ref, textCol)
        val fpSchema = org.apache.spark.sql.types.StructType(Seq(
          batch0.schema(docKey),
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType)))
        // Orphan-proof landed side: only fingerprints whose doc actually
        // committed to docs/ may evict (see crash-ordering above).
        val landed = s.read.schema(fpSchema).parquet(fpsPath)
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
      }).localCheckpoint() // two writes below — don't run the chain twice
      // fps BEFORE docs — see the crash-ordering contract above.
      TextAnalysis.winnowFingerprints(accepted, docKey, textCol, k, w)
        .select(col(docKey), col("fp")).distinct()
        .write.mode("append").parquet(fpsPath)
      accepted.write.mode("append").parquet(docsPath)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch(write)
      .start()
  }

  /** Streaming decontamination: append to `sinkPath` only the arriving
    * documents that share fewer than `minHits` distinct n-gram shingles
    * with the benchmark set — the streaming twin of
    * `Contamination.decontaminate`, in the [[nearDupDedupSink]] mold:
    * state lives in the SINK plus one STATIC bench-side table, never in
    * a streaming state store, so nothing grows with the stream and no
    * watermark is needed for boundedness.
    *
    * The df-capped bench shingle table is computed ONCE here (eager
    * `localCheckpoint` — benchmark sets are small by construction) and
    * broadcast into every micro-batch's detection join; the batch side
    * pays exactly the batch operator's cost per arrival and the
    * benchmark is never re-shingled.
    *
    * Replay contract: survivors anti-join on their content fingerprint
    * against the docs already landed, so at-least-once delivery becomes
    * exactly-once-per-content sink contents; a replayed batch appends
    * nothing. The landed fingerprints are STORED: every sink row
    * carries a `__fp` column (md5 of its text, the reserved-name
    * convention) written in the same parquet files as the doc itself,
    * so the exact guard can never disagree with the sink contents (a
    * sibling fingerprint TABLE would be cheaper to scan but cannot be
    * atomic with the docs append — fp-first loses docs on a crash
    * between the writes, docs-first re-admits them). The fingerprint is
    * NULL-SAFE (null-text docs map to a sentinel outside the md5 hex
    * space) so a nullable text column cannot re-admit its rows on every
    * replay. Within one batch only key duplicates are dropped — two
    * same-content docs under different keys both land (compose an
    * exact-dedup stage upstream if content uniqueness within a batch
    * matters). Empty first batch commits a data-file-less dir; later
    * reads pin the schema instead of inferring (the `upsertSink`
    * contract).
    *
    * Guard cost — O(batch), not O(sink), per micro-batch: beside the
    * data files lives `_fp_blooms/`, fixed-size bloom filters over the
    * landed fingerprints (one per committed batch, merged at read
    * time). Each batch's bloom is written durably BEFORE its data
    * append, so every landed row is bloom-covered at every crash point
    * — a merged-bloom MISS therefore proves the row's content has never
    * landed, and those rows append with ZERO sink IO (the normal
    * fresh-content case: the guard is |batch| map-side probes against
    * driver-merged metadata). Only bloom HITS — replays, cross-batch
    * content re-deliveries, and an fpp-bounded residue of false
    * positives — fall through to the exact anti-join against the
    * sink's `__fp` column (column-pruned, bloom-prefiltered at the
    * scan, ~32 B/doc: the [[graft.ext.Dedup.freshByFingerprint]]
    * shape). Bloom false positives cost only that fallback, never a
    * dropped row. A bloom written for an append that then crashed
    * claims content that never landed — harmless for the same reason:
    * hits are verified exactly. As the stream outgrows
    * `guardBloomItems` × committed batches the merged filter saturates
    * and more batches pay the exact fallback — degradation is back to
    * the pre-bloom guard cost, never incorrectness; recompact or
    * rebuild `_fp_blooms/` with larger sizing to restore the fast
    * path. Sizing is part of the sink's on-disk contract: all bloom
    * files must share one (items × bitsPerItem) shape to merge, so
    * changing the parameters on an existing sink requires rebuilding
    * the bloom dir.
    *
    * Format notes. A sink written by a pre-`__fp` version has no
    * stored fingerprints — the guard cannot recognize anything, so
    * resuming FAILS FAST with a migrate-once instruction instead of
    * silently duplicating (the actual file footers are inspected, not
    * the pinned read schema). A sink written by the pre-bloom `__fp`
    * version migrates automatically: one O(sink-fp) scan builds a
    * single legacy bloom covering everything landed so far (if the
    * landed count exceeds `guardBloomItems` that bloom is saturated —
    * correct but slow — so pass sizing that covers the legacy
    * corpus). */
  def decontaminationSink(stream: DataFrame, bench: DataFrame,
                          sinkPath: String, docKey: String, textCol: String,
                          n: Int, minHits: Int, maxShingleDf: Int,
                          checkpoint: String,
                          guardBloomItems: Long = 1L << 20,
                          guardBloomBitsPerItem: Long = 8L,
                          guardCompactAt: Int = 64
                         ): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ext.Contamination
    val benchSh = Contamination
      .cappedBenchShingles(bench, docKey, textCol, n, maxShingleDf)
      .localCheckpoint()
    // Once per query run, not per batch: the footer inspection +
    // legacy-bloom migration below list and read sink files.
    var guardReady = false
    val write: (DataFrame, Long) => Unit = (batch0, batchId) => {
      val s = batch0.sparkSession
      val sink = new org.apache.hadoop.fs.Path(sinkPath)
      val fs = sink.getFileSystem(s.sparkContext.hadoopConfiguration)
      val sinkSchema = org.apache.spark.sql.types.StructType(
        batch0.schema.fields :+ org.apache.spark.sql.types.StructField(
          "__fp", org.apache.spark.sql.types.StringType))
      if (!guardReady) {
        ensureGuardReady(s, fs, sink, sinkPath, sinkSchema,
          guardBloomItems, guardBloomBitsPerItem)
        guardReady = true
      }
      val b1 = batch0.dropDuplicates(docKey)
      val clean = Contamination.decontaminateAgainst(b1, benchSh, docKey,
        textCol, n, minHits)
      // Null-safe: md5(NULL) is NULL, and a NULL fingerprint matches
      // nothing in the anti-join — a null-text doc would re-land on
      // every replay. The sentinel is not 32 hex chars, so it cannot
      // collide with any real md5 (and stays distinct from md5('')).
      val fp = coalesce(md5(col(textCol)), lit("__fp:null-text"))
      val (fresh0, consultedSink) =
        bloomGuardedFresh(clean, fp, sinkPath, sinkSchema, textCol)
      // The consulted path embeds the sink anti-join, and `fresh` feeds
      // three jobs below (emptiness probe, bloom aggregate, append) —
      // materialize once so the sink fp column is scanned once, not 3×.
      val fresh = if (consultedSink) fresh0.localCheckpoint() else fresh0
      // Bloom BEFORE data — the coverage invariant the whole guard
      // rests on: whatever the crash point, every landed row already
      // has a durable bloom claiming it. (Bloom-then-crash claims rows
      // that never landed; the exact fallback on hits absorbs that.)
      if (!fresh.isEmpty) {
        val bytes = graft.ops.BloomJoin.keyBloom(fresh, col("__fp"),
          guardBloomItems, guardBloomBitsPerItem)
        FpBlooms.write(fs, sink,
          s"batch-$batchId-${java.util.UUID.randomUUID}.bloom", bytes)
      }
      fresh.write.mode("append").parquet(sinkPath)
      // Bound the per-batch driver merge (and the small-files creep):
      // fold the accumulated per-batch blooms into one. Write-new-then-
      // delete-old, so a crash mid-compaction leaves double coverage,
      // never a gap.
      val files = FpBlooms.list(fs, sink)
      if (files.size > guardCompactAt) FpBlooms.compact(fs, sink, files, batchId)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch(write)
      .start()
  }

  /** The bloom-guarded exactly-once-per-content filter behind
    * [[decontaminationSink]], exposed for direct testing. Returns the
    * fresh rows (with `__fp` attached) and whether the sink's stored
    * fingerprint column had to be consulted — `false` exactly when
    * every batch row missed the merged persisted bloom, i.e. the
    * normal fresh-content batch pays no sink IO at all. Callers must
    * have run the migration check first ([[decontaminationSink]]
    * does): with no bloom files present the guard treats everything
    * as fresh. */
  private[graft] def bloomGuardedFresh(batch: DataFrame,
      fp: org.apache.spark.sql.Column, sinkPath: String,
      sinkSchema: org.apache.spark.sql.types.StructType,
      textCol: String): (DataFrame, Boolean) = {
    val s = batch.sparkSession
    val sink = new org.apache.hadoop.fs.Path(sinkPath)
    val fs = sink.getFileSystem(s.sparkContext.hadoopConfiguration)
    // The batch feeds two filters plus the downstream jobs — pin it so
    // the decontamination chain upstream runs once.
    val keyed = batch.withColumn("__fp", fp).localCheckpoint()
    FpBlooms.readMerged(fs, FpBlooms.list(fs, sink)) match {
      case None => (keyed, false) // nothing ever landed (post-migration)
      case Some(merged) =>
        val hit = graft.ops.BloomJoin.mightContain(merged, col("__fp"))
        val suspects = keyed.filter(hit)
        val definite = keyed.filter(!hit)
        if (suspects.isEmpty) (definite, false)
        else if (!fs.exists(sink)) (keyed, false) // bloom-then-crash before 1st append
        else {
          val landedFp = s.read.schema(sinkSchema).parquet(sinkPath)
            .select("__fp")
          val verified = graft.ext.Dedup.freshByFingerprint(suspects,
            landedFp, "__fp", textCol, batchFp = Some(col("__fp")))
          (definite.unionByName(verified), true)
        }
    }
  }

  /** Once per resume: fail fast on a pre-`__fp` sink (no stored
    * fingerprints — the guard would silently duplicate on replay), and
    * auto-migrate a pre-bloom `__fp` sink by building one legacy bloom
    * over everything landed (a single column-pruned O(sink-fp) scan).
    * Inspects the ACTUAL parquet footers, not the pinned read schema —
    * the pinned read would happily return `__fp` as all-NULL. */
  private def ensureGuardReady(s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, sink: org.apache.hadoop.fs.Path,
      sinkPath: String, sinkSchema: org.apache.spark.sql.types.StructType,
      bloomItems: Long, bloomBitsPerItem: Long): Unit = {
    if (!fs.exists(sink)) return
    // Inference throws on a data-file-less dir (empty first batch
    // committed only _SUCCESS) — nothing landed, nothing to migrate.
    scala.util.Try(s.read.parquet(sinkPath).schema).foreach { actual =>
      require(actual.fieldNames.contains("__fp"),
        s"decontamination sink at $sinkPath was written without stored " +
          "fingerprints (no __fp column in the data files): resuming " +
          "would silently duplicate on replay. Migrate once: read the " +
          "old sink, add __fp = coalesce(md5(<textCol>), " +
          "'__fp:null-text'), and rewrite the sink.")
      if (FpBlooms.list(fs, sink).isEmpty) {
        val landed = s.read.schema(sinkSchema).parquet(sinkPath)
        val bytes = graft.ops.BloomJoin.keyBloom(landed.select("__fp"),
          col("__fp"), bloomItems, bloomBitsPerItem)
        FpBlooms.write(fs, sink, "legacy-0.bloom", bytes)
      }
    }
  }

  /** On-disk replay-guard blooms for [[decontaminationSink]]:
    * `.bloom` files under `<sink>/_fp_blooms`, each a fixed-size
    * `org.apache.spark.util.sketch.BloomFilter` over landed `__fp`
    * values (xxhash64 keys — the [[graft.ops.BloomJoin]] encoding, so
    * the probe side is the same codegen'd `might_contain`). All files
    * share one sizing so they OR together; membership is the union of
    * files, so duplicate coverage (retry attempts, interrupted
    * compactions) is always harmless. */
  private object FpBlooms {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.util.sketch.BloomFilter

    private def dir(sink: Path) = new Path(sink, "_fp_blooms")

    def list(fs: FileSystem, sink: Path): Seq[Path] = {
      val d = dir(sink)
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".bloom"))
    }

    private def readOne(fs: FileSystem, p: Path): BloomFilter = {
      val in = fs.open(p)
      try BloomFilter.readFrom(in) finally in.close()
    }

    /** Driver-side union of every persisted bloom, serialized for the
      * codegen'd probe. Distinct sizings cannot OR — surface the
      * contract instead of the sketch library's internal error. */
    def readMerged(fs: FileSystem, files: Seq[Path]): Option[Array[Byte]] =
      files.map(readOne(fs, _)).reduceOption { (a, b) =>
        try a.mergeInPlace(b)
        catch {
          case e: org.apache.spark.util.sketch.IncompatibleMergeException =>
            throw new IllegalStateException(
              "_fp_blooms files have mixed sizings (guardBloomItems × " +
                "guardBloomBitsPerItem changed on an existing sink?); " +
                "rebuild the bloom dir with one sizing", e)
        }
      }.map { bf =>
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        out.toByteArray
      }

    /** Durable create via tmp + rename so a crash mid-write cannot
      * leave a truncated `.bloom` for the next batch's `readFrom`. */
    def write(fs: FileSystem, sink: Path, name: String,
              bloom: Array[Byte]): Unit = {
      val d = dir(sink)
      if (!fs.exists(d)) fs.mkdirs(d)
      val tmp = new Path(d, s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(bloom) finally out.close()
      fs.rename(tmp, new Path(d, name))
    }

    def compact(fs: FileSystem, sink: Path, files: Seq[Path],
                batchId: Long): Unit =
      readMerged(fs, files).foreach { merged =>
        write(fs, sink,
          s"compact-$batchId-${java.util.UUID.randomUUID}.bloom", merged)
        files.foreach(fs.delete(_, false))
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
    * composed with the keyed keep-existing upsert so at-least-once
    * replays append nothing. Per micro-batch: score against the
    * broadcast weight table (map-only + ONE batch-local per-doc agg —
    * no cross-batch streaming state; the model is the only state and
    * it is read-only), keep docs whose 6dp sigmoid clears the
    * threshold, re-attach the batch's payload columns by key, then
    * the [[upsertSink]] idempotence shape: anti-join only the sink
    * partitions the batch touches, append the fresh keys. State lives
    * in the sink table itself — nothing grows with stream length. */
  def classifierGatedSink(stream: DataFrame, sinkPath: String, docKey: String,
                          textCol: String, weights: DataFrame, buckets: Int,
                          bias: Double, threshold: Double, partCol: String,
                          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val write: (DataFrame, Long) => Unit = (batch, _) => {
      val s = batch.sparkSession
      val kept = graft.ext.Classify
        .scoreLinear(batch, docKey, textCol, weights, buckets, bias, threshold)
        .filter(col("label") === "keep")
        .select(col(docKey), col("prob"))
        .join(batch, Seq(docKey))
      val sink = new org.apache.hadoop.fs.Path(sinkPath)
      val exists = sink.getFileSystem(s.sparkContext.hadoopConfiguration).exists(sink)
      val fresh =
        if (exists)
          graft.ops.Upsert.freshAgainstPartitionedSink(
            s, sinkPath, kept, Seq(docKey), Seq("prob"), partCol)
        else graft.ops.Upsert.dedupOnKey(kept, Seq(docKey), Seq("prob"))
      fresh.write.mode("append").partitionBy(partCol).parquet(sinkPath)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch(write)
      .start()
  }

  def upsertSink(stream: DataFrame, sinkPath: String, keys: Seq[String],
                 tieBreak: Seq[String], partCol: String,
                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val write: (DataFrame, Long) => Unit = (batch, _) => {
      val s = batch.sparkSession
      val sink = new org.apache.hadoop.fs.Path(sinkPath)
      val exists = sink.getFileSystem(s.sparkContext.hadoopConfiguration).exists(sink)
      val fresh =
        if (exists)
          graft.ops.Upsert.freshAgainstPartitionedSink(
            s, sinkPath, batch, keys, tieBreak, partCol)
        else graft.ops.Upsert.dedupOnKey(batch, keys, tieBreak)
      fresh.write.mode("append").partitionBy(partCol).parquet(sinkPath)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch(write)
      .start()
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
                   tieBreak: Seq[String],
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Upsert.writeSnapshot(batch.sparkSession, sinkPath,
          batch, keys, tieBreak)
        ()
      }
      .start()

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
      minRowGrowthPct: Double = 0.0): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        try {
          graft.ops.Upsert.writeSnapshotGated(s, sinkPath, batch,
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
      .start()

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
    * within-batch collapse picks one op per key by `tieBreak`. */
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

  /** `mor = true` applies each micro-batch MERGE-ON-READ
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
                   mor: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // upper() here must mirror mergeSnapshot's own normalization:
        // a lowercase-op feed's FIRST batch would otherwise bootstrap
        // empty (every row filtered) while later batches merge fine —
        // a silent, permanent loss of the first batch.
        if (graft.ops.Upsert.latestVersion(s, sinkPath) == 0) {
          // Bootstrap must mirror mergeSnapshot's dedup-THEN-apply: the
          // per-key op collapse picks one winning op per key BEFORE any
          // filtering, so a key whose tieBreak winner is D (an I and a
          // D of the same key in the first batch) bootstraps ABSENT —
          // filtering to I/U first would resurrect the discarded I row.
          val collapsed = graft.ops.Upsert.dedupOnKey(
            batch.withColumn(opCol, upper(col(opCol))), keys, tieBreak)
          graft.ops.Upsert.writeSnapshot(s, sinkPath,
            collapsed.filter(col(opCol).isin("I", "U")).drop(opCol),
            keys, tieBreak)
        } else
          retryWhileLocked(lockWaitMs)(
            if (mor)
              graft.ops.Upsert.mergeSnapshotMoR(s, sinkPath, batch,
                keys, tieBreak, opCol)
            else
              graft.ops.Upsert.mergeSnapshot(s, sinkPath, batch,
                keys, tieBreak, opCol))
        ()
      }
      .start()

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
              graft.ops.Upsert.writeSnapshot(spark, sinkPath, batch,
                keys, tieBreak)
            else
              graft.ops.Upsert.writeSnapshotGated(spark, sinkPath, batch,
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
      graft.ops.Upsert.refreshAggregateFromFeed(spark, srcPath, srcKeys,
        aggPath, groupCols, valueCol))
}
