package graft.sources

import java.util

import graft.ops.Upsert
import graft.table.Sidecars
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The snapshot sink's CHANGE FEED as a first-class Spark relation —
  * batch AND structured streaming:
  *
  * {{{
  *   // batch: the exact I/U/D span between two versions
  *   spark.read.format("graft").option("changeFeed", "true")
  *     .option("startingVersion", 2).load(path)        // (2, latest]
  *
  *   // streaming: snapshot versions ARE the checkpointed offsets
  *   spark.readStream.format("graft").option("changeFeed", "true")
  *     .load(path)
  * }}}
  *
  * Schema: `op` (I/U/D) + the snapshot's logical columns. Options:
  * `keys` (defaults to the sink's recorded key columns), `opCol`
  * (defaults to `op`), `startingVersion` (an integer version, or
  * `latest` for changes-only; default 0 = the CDC initial-snapshot
  * convention [[Upsert.consumeChanges]] defines — the first batch is
  * the full current state as I rows).
  *
  * The streaming source is a [[MicroBatchStream]] whose offsets are
  * snapshot VERSIONS: `latestOffset` is one `_snapshots` listing;
  * each micro-batch (from, to] computes [[Upsert.snapshotChanges]]
  * (the recorded-records fast path — O(changes) even across a
  * compaction) as a normal distributed Spark job that STAGES the span
  * under the stream's checkpoint location, then serves the staged
  * files through the Batch scan's columnar reader — no
  * driver-side row collection at any size, and a replayed batch
  * re-reads its already-staged files byte-identically. `commit`
  * sweeps spans the offset log has passed. Restarting from the
  * checkpoint resumes at the committed version: unchanged keys are
  * never re-delivered.
  *
  * [[Upsert.consumeChanges]] stays the NON-checkpoint alternative (a
  * durable-cursor poll, one span per call) for consumers without a
  * streaming runtime.
  *
  * The reference has no storage or streaming at all (ref
  * `etl.py:1-487`); this is the extension surface's Spark face. */
private[sources] object GraftChangeFeed {

  def isFeed(opts: CaseInsensitiveStringMap): Boolean =
    Option(opts.get("changeFeed")).exists(_.trim.equalsIgnoreCase("true"))

  def opColOf(opts: CaseInsensitiveStringMap): String =
    Option(opts.get("opCol")).map(_.trim).filter(_.nonEmpty).getOrElse("op")

  def keysOf(spark: SparkSession, path: String,
      opts: CaseInsensitiveStringMap): Seq[String] = {
    val declared = Option(opts.get("keys")).toSeq
      .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
    val keys = if (declared.nonEmpty) declared
               else Sidecars.keyCols(new org.apache.hadoop.fs.Path(path)
                 .getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    require(keys.nonEmpty,
      s"graft changeFeed: no key columns — the sink at $path has no " +
        "recorded keys; pass option(\"keys\", \"col[,col…]\")")
    keys
  }

  /** The feed's declared schema: op + the snapshot's logical shape. */
  def feedSchema(spark: SparkSession, path: String, version: Int,
      opCol: String): StructType = {
    val logical = Upsert.snapshotLogicalSchema(spark, path, version)
    require(!logical.fieldNames.contains(opCol),
      s"graft changeFeed: the sink already has a column named " +
        s"'$opCol' — pass option(\"opCol\", …)")
    StructType(StructField(opCol, StringType, nullable = false) +:
      logical.fields.toIndexedSeq)
  }

  /** One feed span as a DataFrame, aligned to `declared` (typed-NULL
    * fill for columns a historical span doesn't carry — same
    * discipline as every other read surface). `from` = 0 is the
    * initial-snapshot convention: the full state at `to` as I rows. */
  def feedFrame(spark: SparkSession, path: String, from: Int, to: Int,
      keys: Seq[String], opCol: String, declared: StructType): DataFrame = {
    val raw =
      if (from == 0) {
        val full = Upsert.readSnapshot(spark, path, to)
        require(!full.columns.contains(opCol),
          s"graft changeFeed: the sink already has a column named " +
            s"'$opCol' — pass option(\"opCol\", …)")
        full.withColumn(opCol, lit("I"))
      } else Upsert.snapshotChanges(spark, path, from, to, keys, opCol)
    val aligned = declared.fields.toIndexedSeq.map { f =>
      if (raw.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    raw.select(aligned: _*)
  }
}

/** The feed table `spark.read[Stream].format("graft")` resolves when
  * `changeFeed=true`. Batch reads serve one span through the V1
  * bridge; streaming reads get the [[GraftMicroBatchStream]]. */
private[sources] class GraftFeedTable(path: String,
    declared: StructType, keys: Seq[String], opCol: String,
    startingVersion: String, endingVersion: Option[Int],
    maxVersionsPerBatch: Option[Int] = None)
  extends Table with SupportsRead {

  override def name(): String = s"graft.`$path`@changeFeed"
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftFeedScan(path, declared, keys, opCol,
      startingVersion, endingVersion, maxVersionsPerBatch)
}

private[sources] class GraftFeedScan(path: String, declared: StructType,
    keys: Seq[String], opCol: String, startingVersion: String,
    endingVersion: Option[Int],
    maxVersionsPerBatch: Option[Int] = None) extends Scan with V1Scan {

  override def readSchema(): StructType = declared
  override def description(): String =
    s"GraftChangeFeed path=$path, startingVersion=$startingVersion" +
      endingVersion.map(v => s", endingVersion=$v").getOrElse("")

  // ── batch: one explicit span ─────────────────────────────────────
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = declared
      override def buildScan(): RDD[Row] = {
        val spark = context.sparkSession
        val to = endingVersion
          .getOrElse(Upsert.latestVersion(spark, path))
        val from = startingVersion match {
          case "" => 0
          case "latest" => to // empty span: shape-only
          case n => GraftOptions.int("startingVersion", n)
        }
        require(to >= 1, s"graft changeFeed: no published snapshot at $path")
        require(from <= to,
          s"graft changeFeed: startingVersion $from is past " +
            s"endingVersion $to")
        if (from == to)
          spark.sparkContext.emptyRDD[Row]
        else
          GraftChangeFeed.feedFrame(spark, path, from, to, keys, opCol,
            declared).rdd
      }
    }.asInstanceOf[T]

  // ── streaming: versions as offsets ───────────────────────────────
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(path, declared, keys, opCol,
      startingVersion, checkpointLocation, maxVersionsPerBatch)
}

private[sources] final case class GraftOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** Snapshot versions as checkpointed streaming offsets. Each batch
  * (from, to] stages [[GraftChangeFeed.feedFrame]] under the stream's
  * checkpoint (a distributed write — the driver never holds rows) and
  * serves the staged parquet files; a batch replayed after a restart
  * re-reads its staged files unchanged. */
private[sources] class GraftMicroBatchStream(path: String,
    declared: StructType, keys: Seq[String], opCol: String,
    startingVersion: String, checkpointLocation: String,
    maxVersionsPerBatch: Option[Int] = None)
  extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def stagedRoot = new org.apache.hadoop.fs.Path(
    checkpointLocation, "graft-staged")
  private def stagedFs = org.apache.hadoop.fs.FileSystem.get(
    stagedRoot.toUri, spark.sparkContext.hadoopConfiguration)
  private def stageDir(from: Int, to: Int) =
    new org.apache.hadoop.fs.Path(stagedRoot, s"$from-$to")

  override def initialOffset(): Offset = GraftOffset(startingVersion match {
    case "" => 0
    case "latest" => Upsert.latestVersion(spark, path)
    case n => GraftOptions.int("startingVersion", n)
  })

  override def latestOffset(): Offset =
    GraftOffset(Upsert.latestVersion(spark, path))

  // ── admission control: cap versions per micro-batch ──────────────
  // `maxVersionsPerBatch` bounds how far one micro-batch advances the
  // version cursor, so a stream resuming against a deep backlog works
  // through it in bounded spans (bounded staging write, bounded state
  // churn downstream) instead of one giant catch-up batch. Versions
  // are this source's offset unit — ReadMaxRows carries the cap the
  // same way Kafka's maxOffsetsPerTrigger rides it.
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerBatch.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].version
    val latest = Upsert.latestVersion(spark, path)
    GraftOffset(limit match {
      case r: ReadMaxRows =>
        math.min(latest.toLong, from.toLong + r.maxRows()).toInt
      case _ => latest
    })
  }

  override def reportLatestOffset(): Offset =
    GraftOffset(Upsert.latestVersion(spark, path))

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    if (to <= from) return Array.empty
    // ZERO-COPY initial snapshot (guide §2.4/§6): the from==0 batch is
    // the full state at `to`, which already exists as the sink's
    // immutable data files — serve those directly with a constant
    // op="I" column instead of staging a byte-copy of the whole corpus
    // under the checkpoint. Eligibility = the Batch scan's gate (no
    // evolution mapping, no deletion vectors); ineligible snapshots
    // stage as before. Replay of a pre-commit initial batch re-lists
    // version `to`'s files: compactions publish NEW versions (old
    // files stay until expiry), so only expiring `to` itself inside
    // the replay window could break it — the same retention contract
    // time travel already carries.
    if (from == 0 && Upsert.batchScanEligible(spark, path, to)) {
      val dirs = graft.table.Protocol.manifestDirs(
        org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
          spark.sparkContext.hadoopConfiguration), path, to)
      return Upsert.snapshotDataFiles(spark, path, dirs)
        .map(f => GraftFeedInitialPartition(f): InputPartition).toArray
    }
    val dir = stageDir(from, to)
    val fs = stagedFs
    // _SUCCESS = the span is staged and final: a replayed batch (crash
    // between offset log and commit log) re-serves the SAME bytes.
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
      GraftChangeFeed.feedFrame(spark, path, from, to, keys, opCol,
        declared).write.mode("overwrite").parquet(dir.toString)
    fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")
      }
      .map(st => GraftInputPartition(st.getPath.toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftFeedReaderFactory(declared, opCol,
      GraftBatchScan.hadoopConfKVs(spark))

  override def commit(end: Offset): Unit = {
    // Spans the commit log has passed are never re-planned: sweep
    // their staging (best-effort — debris costs disk, never truth).
    val committed = end.asInstanceOf[GraftOffset].version
    try {
      val fs = stagedFs
      if (fs.exists(stagedRoot))
        fs.listStatus(stagedRoot).toSeq.foreach { st =>
          val parts = st.getPath.getName.split("-", 2)
          val stale = parts.length == 2 &&
            scala.util.Try(parts(1).toInt).toOption.exists(_ <= committed)
          if (stale) fs.delete(st.getPath, true)
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn("changeFeed: staging sweep of {} failed; stale spans " +
          "stay on disk: {}", stagedRoot, e)
    }
  }

  override def stop(): Unit = ()
}

/** A sink data file served as the INITIAL feed batch (zero-copy):
  * read as the feed's data columns, with the op column a constant
  * "I". */
private[sources] final case class GraftFeedInitialPartition(file: String)
  extends InputPartition

/** Feed partition reader factory, columnar throughout: staged span
  * files read under the full declared schema (op is a real column of
  * the staged parquet); zero-copy initial-batch files read under the
  * data columns, with a constant op="I" vector placed first (op is the
  * declared schema's FIRST field by [[GraftChangeFeed.feedSchema]]
  * construction). */
private[sources] class GraftFeedReaderFactory(declared: StructType,
    opCol: String, confKVs: Array[(String, String)])
  extends GraftColumnarReaderFactory {
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    p match {
      case GraftInputPartition(f) =>
        new GraftColumnarPartitionReader(f, declared, confKVs)
      case GraftFeedInitialPartition(f) =>
        val dataSchema = StructType(
          declared.fields.filterNot(_.name == opCol))
        val inner = new GraftColumnarPartitionReader(f, dataSchema, confKVs)
        new PartitionReader[ColumnarBatch] {
          // ConstantColumnVector ignores the row id, so one vector of
          // any capacity serves every batch.
          private val op = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(1, StringType)
          op.setUtf8String(
            org.apache.spark.unsafe.types.UTF8String.fromString("I"))
          override def next(): Boolean = inner.next()
          override def get(): ColumnarBatch = {
            val data = inner.get()
            new ColumnarBatch(
              op +: Array.tabulate[ColumnVector](data.numCols)(data.column),
              data.numRows)
          }
          override def close(): Unit = { op.close(); inner.close() }
        }
      case other => throw new IllegalStateException(
        s"graft changeFeed: unexpected partition $other")
    }
}
