package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

import graft.ops.Upsert
import graft.streaming.EventStream

/** `snapshot_cdc`: the `events` ticks kept in one snapshot sink by a CDC
  * stream of seeded I/U/D batches, with an aggregate sink maintained from
  * its change feed, six kinds of read beside the writes, and maintenance.
  * Every read, the final sink and the aggregate must equal a replay of the
  * same change stream with plain DataFrames. */
final class SnapshotCdc(spark: SparkSession, rec: Recorder, rigDir: String,
    work: String, seed: Long, traced: Boolean) extends Workload {
  import SnapshotCdc._

  private val events = graft.sources.Tables.table(spark, rigDir, "events")
  private val schema = events.schema
  private val batchSchema = StructType(schema.fields :+ StructField("op", StringType))
  /** Where a change row holds its I/U/D/E op. */
  private val opAt = schema.size
  private val (firstKeys, firstTs, types) = {
    val r = events.agg(collect_list(col("event_id")), max(col("ts")),
      collect_set(col("event_type"))).collect()(0)
    (r.getSeq[Long](0), r.getTimestamp(1).getTime, r.getSeq[String](2).sorted.toIndexedSeq)
  }

  private val path = s"$work/cdc/sink"
  private val agg = s"$work/cdc/agg"
  private val ckpt = s"$work/cdc/stream"
  private val rng = new scala.util.Random(seed)
  /** The live keys, from which the next batch is drawn. */
  private val live = scala.collection.mutable.BitSet.empty
  private var maxKey = 0L
  private var lastTs = firstTs
  private var cycles = 0
  /** The versions just before and just after the last merge; retention
    * keeps both. */
  private var before = 1
  private var merged = 1
  /** The change stream, for the replay: (sequence number, rows). */
  private val history = ArrayBuffer.empty[(Int, Seq[Row])]
  /** The sequence numbers of the erasures in `history`. */
  private val erasures = scala.collection.mutable.Set.empty[Int]
  /** For each version a commit published, how many history entries its
    * content holds; a version in between holds what the last one below it
    * holds. An erasure publishes no version: it rewrites every version in
    * place, so a read sees every erasure made before it, whichever version
    * it reads. */
  private val contentAt = scala.collection.mutable.TreeMap.empty[Int, Int]
  /** The version the change-feed stream has delivered up to. */
  private var streamAt = 0
  /** A timed read's columns and hash, and the replay rows it must equal. */
  private final class ReadCheck(val name: String, val cols: Seq[String], val got: Long,
      val want: Model => Iterable[(String, Row)])
  /** Every timed read's hash with what the replay must give for it. */
  private val readChecks = ArrayBuffer.empty[ReadCheck]

  private val freshness = ArrayBuffer.empty[Double]
  private val feedModes = ArrayBuffer.empty[String]
  private val pruneFracs = ArrayBuffer.empty[Double]
  private var plainBytes = 0L
  private var mergeBytes = 0L

  def setup(): Unit = {
    Seq(path, agg, ckpt).foreach(p => deleteTree(p))
    Upsert.declareSkipCols(spark, path, Seq("ts", "value"))
    Upsert.writeSnapshot(spark, path, events, Keys, Keys)
    EventStream.changeFeedAggregatePoll(spark, path, Keys, agg, Seq("event_type"), "value")
    firstKeys.foreach(k => live += k.toInt)
    maxKey = firstKeys.max
    noteContent()
  }

  /** The stream takes its initial snapshot. */
  def warm(): Unit = rec.untimed {
    catchUp()
    streamAt = latest()
  }

  def timed(deadlineNs: Long): Unit = while (System.nanoTime() < deadlineNs) runCycle()

  private def liveKey(): Int = {
    var k = rng.nextInt(maxKey.toInt + 1)
    while (!live(k)) k = rng.nextInt(maxKey.toInt + 1)
    k
  }

  private def tick(key: Long, op: String): Row = {
    lastTs += 1000L + rng.nextInt(4000)
    Row(key, new java.sql.Timestamp(lastTs), rng.nextInt(1500).toLong,
      types(rng.nextInt(types.size)), math.round(rng.nextDouble() * 20000) / 100.0,
      s"""{"k": ${rng.nextInt(100)}}""", op)
  }

  /** New ticks past the max key, late corrections biased to the most
    * recent keys with a uniform share, and a few deletes. The sizes are
    * fixed, so the seed changes which keys and values a batch holds but
    * not how much work it is. */
  private def nextBatch(): Seq[Row] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    val (nNew, nUpd, nDel) = (BatchNew, BatchUpd, BatchDel)
    while (picked.size < nUpd) {
      val k = if (rng.nextDouble() < 0.8) {
        val k0 = maxKey.toInt - rng.nextInt(RecentWindow)
        if (k0 >= 0 && live(k0)) k0 else liveKey()
      } else liveKey()
      picked += k
    }
    val upd = picked.toVector
    while (picked.size < nUpd + nDel) picked += liveKey()
    val del = picked.toVector.drop(nUpd)
    val ins = (1 to nNew).map(i => maxKey + i)
    val rows = ins.map(tick(_, "I")) ++ upd.map(k => tick(k.toLong, "U")) ++
      del.map(k => tick(k.toLong, "D"))
    ins.foreach(k => live += k.toInt)
    del.foreach(live -= _)
    maxKey += nNew
    history += ((history.size + 1, rows))
    rows
  }

  private def doomed(): Seq[Long] = {
    val ks = (1 to EraseKeys).map(_ => liveKey()).distinct
    ks.foreach(live -= _)
    erasures += history.size + 1
    history += ((history.size + 1, ks.map(k => Row(k.toLong, null, null, null, null, null, "E"))))
    ks.map(_.toLong)
  }

  private def latest(): Int = Upsert.latestVersion(spark, path)

  /** Records that the latest version holds the whole history so far. */
  private def noteContent(): Unit = contentAt(latest()) = history.size

  private def contentOf(v: Int): Int = contentAt.rangeTo(v).last._2

  private def dataFiles(v: Int): Int = {
    val dirs = Upsert.manifestEntries(spark, path, v).map(_.dir)
    Upsert.snapshotDataFiles(spark, path, dirs).size
  }

  /** Data files the last read opened, over the data files of its version. */
  private def notePrune(v: Int): Unit =
    if (traced) pruneFracs += CountingFs.openedData.size.toDouble / dataFiles(v)

  /** One timed read: the call and Bench's hash action. `want` gives, from
    * the replay, the rows the read must return. */
  private def read(name: String, want: Model => Iterable[Row])(df: => DataFrame): Unit =
    readOp(name, m => want(m).map((null, _)))(df)

  private def readOp(name: String, want: Model => Iterable[(String, Row)])(df: => DataFrame): Unit =
    rec.op("query", name) {
      val d = rec.span(s"upsert.$name")(df)
      val h = rec.span("action")(QueryWorkload.hashAction(d))
      readChecks += new ReadCheck(name, d.columns.toSeq, hashValue(h), want)
    }

  /** One cycle: two batches, one merged copy-on-write and one
    * merge-on-read, one feed poll that applies both, the six reads,
    * compaction, erasure and retention, and the six reads again over the
    * maintained table. Both merge kinds run in every cycle, copy-on-write
    * first in even cycles, so the seed never changes the operations a run
    * measures, only the data they see. */
  private def runCycle(): Unit = {
    val morFirst = cycles % 2 == 1
    val merges = Seq(merge(morFirst), merge(!morFirst))
    val poll = rec.op("poll", "feed_poll") {
      rec.span("feed.changeFeedAggregatePoll")(EventStream.changeFeedAggregatePoll(
        spark, path, Keys, agg, Seq("event_type"), "value"))
    }
    merges.filter(_.ok && poll.ok).foreach(m => freshness += poll.end - m.start)
    feedModes += Upsert.lastFeedRefresh.get()
    reads()
    maintain()
    reads()
    cycles += 1
  }

  private def merge(mor: Boolean): OpRec = {
    val rows = nextBatch()
    val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), batchSchema)
    if (traced) plainBytes += plainParquetBytes(batch.drop("op"))
    before = latest()
    val m = rec.op("commit", if (mor) "merge_mor" else "merge_cow") {
      rec.span(if (mor) "upsert.mergeSnapshotMoR" else "upsert.mergeSnapshot") {
        if (mor) Upsert.mergeSnapshotMoR(spark, path, batch, Keys, Keys, "op")
        else Upsert.mergeSnapshot(spark, path, batch, Keys, Keys, "op")
      }
    }
    m.trace.foreach(t => mergeBytes += t.fsCount("bytes_written"))
    noteContent()
    merged = latest()
    m
  }

  /** The six reads of the latest version; the as-of read goes back to
    * the version before the last merge, the change read spans that merge,
    * the stream read everything since the last catch-up. */
  private def reads(): Unit = {
    val v = latest()
    val at = contentOf(v)
    val t = history.size
    read("read_latest", _.at(at, t).values)(Upsert.readSnapshot(spark, path, v))
    val lo = rng.nextInt(math.max(1, maxKey.toInt - RangeWidth))
    read("read_range", _.at(at, t).filter { case (k, _) => k >= lo && k <= lo + RangeWidth }.values)(
      spark.read.format("graft").load(path)
        .filter(col("event_id").between(lo, lo + RangeWidth)))
    notePrune(v)
    val probe = (1 to ProbeKeys).map(_ => liveKey().toLong)
    val probeDf = spark.createDataFrame(java.util.Arrays.asList(probe.map(Row(_)): _*),
      StructType(Seq(StructField("event_id", LongType))))
    read("read_keys", _.at(at, t).filter { case (k, _) => probe.contains(k) }.values)(
      Upsert.readSnapshotForKeys(spark, path, v, probeDf, Keys))
    notePrune(v)
    read("read_asof", _.at(contentOf(before), t).values)(Upsert.readSnapshotAsOf(spark, path,
      Upsert.publishedAtMs(spark, path, before)))
    val (from, to) = (contentOf(before), contentOf(merged))
    readOp("read_changes", _.changes(from, to, t))(
      Upsert.snapshotChanges(spark, path, before, merged, Keys))
    val streamFrom = contentOf(streamAt)
    rec.op("query", "read_stream") {
      val (cols, h) = rec.span("stream.catchUp")(catchUp())
      readChecks += new ReadCheck("read_stream", cols, h, _.changes(streamFrom, at, t))
    }
    streamAt = v
  }

  private def maintain(): Unit = {
    rec.op("commit", "compact") {
      rec.span("upsert.compactSnapshots")(Upsert.compactSnapshots(spark, path))
    }
    noteContent()
    val ks = doomed()
    val doomedDf = spark.createDataFrame(java.util.Arrays.asList(ks.map(Row(_)): _*),
      StructType(Seq(StructField("event_id", LongType))))
    rec.op("commit", "erase") {
      rec.span("upsert.eraseKeys")(Upsert.eraseKeys(spark, path, doomedDf, Keys))
    }
    noteContent()
    rec.op("commit", "retain") {
      rec.span("upsert.expireSnapshots")(Upsert.expireSnapshots(spark, path, before))
      rec.span("upsert.vacuumOrphans")(Upsert.vacuumOrphans(spark, path))
    }
    noteContent()
  }

  /** The change feed as a stream: resume from the checkpoint and deliver
    * every version published since. Returns the delivered columns and the
    * sum of the micro-batches' hashes. */
  private def catchUp(): (Seq[String], Long) = {
    var cols = Seq.empty[String]
    var h = 0L
    val q = spark.readStream.format("graft").option("changeFeed", "true").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        cols = df.columns.toSeq
        h += hashValue(QueryWorkload.hashAction(df)); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    (cols, h)
  }

  /** Every read must equal the in-memory replay; the final sink and the
    * aggregate must equal the DataFrame replay, and so must the in-memory
    * replay of the whole stream. */
  def check(): Seq[String] = {
    val v = latest()
    EventStream.changeFeedAggregatePoll(spark, path, Keys, agg, Seq("event_type"), "value")
    val out = ArrayBuffer.empty[String]
    val c0 = System.nanoTime()
    val model = new Model
    readChecks.zipWithIndex.foreach { case (c, i) =>
      val want = model.hash(c.cols, c.want(model))
      if (c.got != want) out += s"read $i (${c.name}): hash ${c.got}, replay: $want"
    }
    System.err.println(f"[perfbench] ${readChecks.size} reads checked against the replay " +
      f"in ${(System.nanoTime() - c0) / 1e9}%.2f s")
    val replayed = replay()
    val sinkFp = fingerprint(Upsert.readSnapshot(spark, path, v), schema.fieldNames)
    val wantFp = fingerprint(replayed, schema.fieldNames)
    System.err.println(s"[perfbench] sink after $cycles cycles: v$v, (rows, hash) $sinkFp")
    if (sinkFp != wantFp) out += s"sink v$v: $sinkFp, replay: $wantFp"
    val last = model.at(history.size, history.size)
    val modelFp = (last.size.toLong, model.hash(schema.fieldNames, last.values.map((null, _))))
    if (modelFp != wantFp) out += s"in-memory replay: $modelFp, replay: $wantFp"
    val aggCols = Seq("event_type", "n", "n_val", "sum_v", "min_v", "max_v")
    val aggFp = fingerprint(Upsert.readSnapshot(spark, agg, Upsert.latestVersion(spark, agg)),
      aggCols)
    val aggWant = fingerprint(replayed.groupBy("event_type").agg(
      count(lit(1)).as("n"), count(col("value")).as("n_val"),
      sum(col("value").cast(Dec)).cast(Dec).as("sum_v"),
      min(col("value")).as("min_v"), max(col("value")).as("max_v")), aggCols)
    if (aggFp != aggWant) out += s"aggregate: $aggFp, replay: $aggWant"
    out.toSeq
  }

  /** The replay the reads are checked against, kept in memory: the live
    * rows by key after the merges among the first `n` entries of the
    * change stream and the erasures among the first `t`, with the same
    * rule as [[replay]]. */
  private final class Model {
    private val key = schema.fieldIndex("event_id")
    private val base = events.collect().map(r => r.getLong(key) -> r).toMap
    private val done = scala.collection.mutable.Map.empty[(Int, Int), Map[Long, Row]]

    def at(n: Int, t: Int): Map[Long, Row] = {
      val id = (history.take(n).count(e => !erasures(e._1)),
        history.take(t).count(e => erasures(e._1)))
      done.getOrElseUpdate(id, history.foldLeft(base) { case (m, (s, rows)) =>
        if (s > (if (erasures(s)) t else n)) m
        else rows.foldLeft(m) { (m, r) =>
          if (Seq("I", "U").contains(r.getString(opAt)))
            m.updated(r.getLong(key), Row.fromSeq(r.toSeq.take(opAt)))
          else m - r.getLong(key)
        }
      })
    }

    /** What a change read from content `from` to content `to` must give:
      * I for a key only in `to`, D (old values) for a key only in
      * `from`, U (new values) for a key in both with a value changed. */
    def changes(from: Int, to: Int, t: Int): Iterable[(String, Row)] = {
      val (a, b) = (at(from, t), at(to, t))
      (a.keySet ++ b.keySet).toSeq.flatMap { k =>
        (a.get(k), b.get(k)) match {
          case (None, Some(r)) => Some(("I", r))
          case (Some(r), None) => Some(("D", r))
          case (Some(x), Some(y)) if x != y => Some(("U", y))
          case _ => None
        }
      }
    }

    /** Bench's hash action over rows given as (op, row), with the columns
      * in `cols` order: the sum of Spark's xxhash64 over each row, or 0
      * for no rows. */
    def hash(cols: Seq[String], rows: Iterable[(String, Row)]): Long = {
      val st = StructType(cols.map(c => if (c == "op") StructField("op", StringType) else schema(c)))
      val toRow = CatalystTypeConverters.createToCatalystConverter(st)
      val xx = new XxHash64(st.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true) })
      val idx = cols.map(c => if (c == "op") -1 else schema.fieldIndex(c))
      rows.iterator.map { case (op, r) =>
        val values = idx.map(i => if (i < 0) op else r.get(i))
        xx.eval(toRow(Row.fromSeq(values)).asInstanceOf[InternalRow]).asInstanceOf[Long]
      }.sum
    }
  }

  /** The live rows after the whole change stream, from plain DataFrame
    * operations only: per key, the last event wins, and a key whose last
    * event is a delete or an erasure is gone. An erased key is never
    * written again. */
  private def replay(): DataFrame = {
    val seqSchema = StructType(batchSchema.fields :+ StructField("__seq", LongType))
    val changes = history.flatMap { case (s, rows) =>
      rows.map(r => Row.fromSeq(r.toSeq :+ s.toLong)) }
    val all = events.withColumn("op", lit("I")).withColumn("__seq", lit(0L))
      .unionByName(spark.createDataFrame(java.util.Arrays.asList(changes.toSeq: _*), seqSchema))
    all.withColumn("__rn", row_number().over(
        Window.partitionBy("event_id").orderBy(col("__seq").desc)))
      .filter(col("__rn") === 1 && col("op").isin("I", "U"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  override def extraMetrics(): Seq[(String, Double, String)] = {
    val liveBytes = plainParquetBytes(Upsert.readSnapshot(spark, path, latest()))
    Seq(
      ("freshness_p50_ms", Metrics.med(freshness.toSeq), "ms"),
      ("space_amp", treeBytes(path).toDouble / liveBytes, "ratio"))
  }

  override def layerMetrics(): Seq[(String, Double, String)] = {
    val v = latest()
    val dirs = Upsert.manifestEntries(spark, path, v).map(_.dir)
    val versions = Upsert.snapshotHistory(spark, path).count()
    val recompute = feedModes.count(m => !m.startsWith("feed:")).toDouble /
      math.max(1, feedModes.size)
    Seq(
      ("table.write_amp", mergeBytes.toDouble / plainBytes, "ratio"),
      ("table.live_files", dataFiles(v).toDouble, "count"),
      ("table.live_dirs", dirs.size.toDouble, "count"),
      ("table.versions", versions.toDouble, "count"),
      ("table.prune_frac", Metrics.med(pruneFracs.toSeq), "fraction"),
      ("feed.recompute_frac", recompute, "fraction"))
  }

  private def plainParquetBytes(df: DataFrame): Long = {
    val p = s"$work/cdc/plain"
    df.write.mode("overwrite").parquet(p)
    try treeBytes(p) finally deleteTree(p)
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
    spark.sparkContext.hadoopConfiguration)
  private def deleteTree(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true)
  private def treeBytes(p: String): Long =
    fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
}

object SnapshotCdc {
  val Keys = Seq("event_id")
  val Dec = DecimalType(28, 6)
  val BatchNew = 400
  val BatchUpd = 400
  val BatchDel = 30
  val RecentWindow = 5000
  val RangeWidth = 2000
  val ProbeKeys = 64
  val EraseKeys = 8

  /** Bench's hash as a number; an empty result hashes to 0. */
  def hashValue(h: String): Long = if (h == "null") 0L else h.toLong

  /** Row count and order-free hash sum over the named columns. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
