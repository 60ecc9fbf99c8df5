package graft.sources

import graft.ops.Upsert
import graft.table.{KeyDomain, Sidecars}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Filter → per-column closed bounding box, shared by the plan-time
  * pushdown ([[GraftScanBuilder.pushFilters]]) and the execution-time
  * runtime filters ([[GraftBatchScan.filter]]): both arrive as V1
  * [[Filter]]s and fold the same way. Strict inequalities bound CLOSED
  * at the same value — a sound superset; the residual (plan-time) or
  * the join itself (runtime) restores exactness. */
private[sources] object FilterBounds {

  /** (column, canonical lo bound, canonical hi bound) a single filter
    * contributes — None when the filter cannot bound. */
  def boundOf(tableSchema: StructType, f: Filter)
      : Option[(String, Option[Any], Option[Any])] = {
    def canon(name: String, v: Any): Option[Any] = for {
      fld <- tableSchema.fields.find(_.name == name)
      colTag <- KeyDomain.tagOf(fld.dataType)
      (vTag, c) <- KeyDomain.canon(v)
      if vTag == colTag && v != null
    } yield c
    f match {
      case EqualTo(c, v) => canon(c, v).map(x => (c, Some(x), Some(x)))
      case EqualNullSafe(c, v) if v != null =>
        canon(c, v).map(x => (c, Some(x), Some(x)))
      case GreaterThan(c, v) => canon(c, v).map(x => (c, Some(x), None))
      case GreaterThanOrEqual(c, v) => canon(c, v).map(x => (c, Some(x), None))
      case LessThan(c, v) => canon(c, v).map(x => (c, None, Some(x)))
      case LessThanOrEqual(c, v) => canon(c, v).map(x => (c, None, Some(x)))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        val cs = vs.toSeq.map(canon(c, _))
        if (cs.exists(_.isEmpty)) None
        else {
          val xs = cs.flatten
          Some((c, Some(xs.reduce(KeyDomain.min)), Some(xs.reduce(KeyDomain.max))))
        }
      // A prefix is a closed string range: every `p…` sorts in
      // [p, inc(p)] under the sidecars' UTF-8 byte order. The
      // increment stays inside ASCII (a multi-byte last char has no
      // valid-string successor in byte order) — non-ASCII prefixes
      // simply contribute no box, never a wrong one.
      case StringStartsWith(c, p) if p != null && p.nonEmpty &&
          p.last < '\u007f' =>
        canon(c, p).flatMap { lo =>
          canon(c, p.init + (p.last + 1).toChar)
            .map(hi => (c, Some(lo), Some(hi)))
        }
      // An And intersects: same-column branches merge their bounds;
      // mixed-column branches keep one side's box (sound — the
      // conjunction implies each side; the single-column result shape
      // can't carry both). Top-level conjunctions arrive pre-split by
      // Catalyst, so this matters under Or branches.
      case And(l, r) =>
        (boundOf(tableSchema, l), boundOf(tableSchema, r)) match {
          case (Some((cl, llo, lhi)), Some((cr, rlo, rhi))) if cl == cr =>
            Some((cl, (llo ++ rlo).reduceOption(KeyDomain.max),
              (lhi ++ rhi).reduceOption(KeyDomain.min)))
          case (one, None) => one
          case (None, one) => one
          case (one, _) => one
        }
      // An Or whose BOTH branches bound the SAME column folds to the
      // union box (min-lo, max-hi): sound — every row satisfying
      // either branch lies inside the union — and still useful when
      // the branches cluster (IN-lists rewritten as ranges, date
      // windows). A side missing a bound leaves that side open.
      case Or(l, r) =>
        (boundOf(tableSchema, l), boundOf(tableSchema, r)) match {
          case (Some((cl, llo, lhi)), Some((cr, rlo, rhi))) if cl == cr =>
            val lo = for (a <- llo; b <- rlo) yield KeyDomain.min(a, b)
            val hi = for (a <- lhi; b <- rhi) yield KeyDomain.max(a, b)
            if (lo.isEmpty && hi.isEmpty) None else Some((cl, lo, hi))
          case _ => None
        }
      case _ => None
    }
  }

  /** Fold a conjunct set into per-column closed canonical bounds: per
    * column the los max-fold and the his min-fold (intersection),
    * one-sided results completed with the tag's domain end. */
  def fold(tableSchema: StructType, filters: Array[Filter]): KeyDomain.Bounds =
    filters.flatMap(boundOf(tableSchema, _)).groupBy(_._1).flatMap { case (c, bs) =>
      val tag = KeyDomain.tagOf(tableSchema(c).dataType).get
      val (sLo, sHi) = KeyDomain.sentinels(tag)
      for {
        l <- bs.flatMap(_._2).reduceOption(KeyDomain.max).orElse(sLo)
        h <- bs.flatMap(_._3).reduceOption(KeyDomain.min).orElse(sHi)
      } yield c -> ((tag, (l, h)))
    }

  /** Exact value SETS carried by equality/In conjuncts — the bloom
    * stage's probe (ranges alone can't prune hash-distributed keys). */
  def keySets(filters: Array[Filter]): Map[String, Seq[Any]] =
    filters.collect {
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) => c -> vs.toSeq
      case EqualTo(c, v) if v != null => c -> Seq(v)
    }.toMap
}

/** The DSv2 BATCH path for eligible snapshot reads — the one that
  * participates in Spark's runtime filtering. The V1 bridge
  * ([[GraftScan]]) executes through `RowDataSourceScanExec`, which the
  * dynamic-pruning rules never touch; this scan is a real
  * [[Batch]], so a broadcast join over it gets a DPP subquery
  * (`PartitionPruning` requires [[SupportsRuntimeFiltering]]) and
  * Spark hands the build side's keys to [[filter]] at EXECUTION time —
  * the classic warehouse shape, fact snapshot ⋈ filtered dim, then
  * opens only the dirs the sidecar stats + blooms admit.
  *
  * Planning: one [[InputPartition]] per parquet file of the admitted
  * dirs (dir admission = [[Upsert.admitDirsFor]], the same range+bloom
  * machinery as the library probes). Reading: Spark's vectorized
  * parquet reader ([[GraftColumnarPartitionReader]]), every column
  * type, nested ones included.
  *
  * Eligibility ([[Upsert.batchScanEligible]]): no declared schema
  * evolution and no deletion vectors — anything else uses the V1
  * bridge. Exactness never rests on this choice: both paths keep every
  * filter residual. */
private[sources] object GraftBatchScan {
  /** Hadoop conf as serializable pairs for the executor-side readers
    * (credentials/fs settings must travel; Configuration itself is not
    * serializable). */
  def hadoopConfKVs(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
    b.result()
  }
}

private[sources] class GraftBatchScan(path: String, version: Int,
    tableSchema: StructType, required: StructType,
    staticBounds: KeyDomain.Bounds, pushed: Array[Filter])
  extends Scan with Batch with SupportsRuntimeFiltering {

  // Runtime join-key filters land here at execution time (driver),
  // strictly before the re-plan reads them — BatchScanExec calls
  // filter() then planInputPartitions() sequentially.
  private var runtimeBounds: KeyDomain.Bounds = Map.empty
  private var runtimeKeySets: Map[String, Seq[Any]] = Map.empty

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftSnapshotBatch path=$path, version=$version, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"RuntimeFilterable: [${filterAttributes().mkString(", ")}]"

  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] = {
    // Columns whose sidecar stats can prune dirs — the recorded keys
    // plus the declared skip columns. Anything else could never prune,
    // so a DPP subquery on it would be pure overhead.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    (Sidecars.keyCols(fs, path) ++ Sidecars.skipCols(fs, path)).distinct
      .filter(c => tableSchema.fields.exists(f => f.name == c &&
        KeyDomain.tagOf(f.dataType).isDefined))
      .map(Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    runtimeBounds = FilterBounds.fold(tableSchema, filters)
    runtimeKeySets = FilterBounds.keySets(filters)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    // Intersect static and runtime boxes per column: both must hold.
    val merged = staticBounds ++ runtimeBounds.map { case (c, (tag, r)) =>
      c -> ((tag, staticBounds.get(c).fold(r)(s => KeyDomain.intersect(s._2, r))))
    }
    val admitted = Upsert.admitDirsFor(spark, path, version, merged,
      runtimeKeySets)
    Upsert.snapshotDataFiles(spark, path, admitted)
      .map(f => GraftInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required,
      GraftBatchScan.hadoopConfKVs(SparkSession.active))
}

private[sources] final case class GraftInputPartition(file: String)
  extends InputPartition

/** Base of the sink's reader factories: every partition is read
  * COLUMNAR, so Spark never asks for a row reader. */
private[sources] abstract class GraftColumnarReaderFactory
  extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft: sink files are read columnar only")
}

private[sources] class GraftReaderFactory(required: StructType,
    confKVs: Array[(String, String)]) extends GraftColumnarReaderFactory {
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    new GraftColumnarPartitionReader(
      p.asInstanceOf[GraftInputPartition].file, required, confKVs)
}

/** The one reader of sink and staged change-feed parquet files: ONE
  * file via Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader]]
  * (a public class of the Spark jar — no internals modified), nested
  * columns included. Batches flow to WholeStageCodegen through the
  * standard ColumnarToRow transition. Requested columns the file does
  * not carry null-fill (additive mergeSchema semantics — the only
  * physical divergence the eligibility gate admits); datetime and
  * INT96 rebase are CORRECTED (no-op), the raw proleptic values the
  * library's V1 reads return. A file the reader refuses (a foreign
  * TIMESTAMP(NANOS) column, which no Spark write produces) fails the
  * task with an error naming the file. */
private[sources] class GraftColumnarPartitionReader(file: String,
    required: StructType, confKVs: Array[(String, String)])
  extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}

  private val conf = {
    val c = new Configuration(false)
    confKVs.foreach { case (k, v) => c.set(k, v) }
    // The requested Spark schema rides the conf (ParquetReadSupport's
    // contract); the converter knobs pin the same semantics the
    // library's V1 reads use.
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.setBoolean("spark.sql.caseSensitive", false)
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", false)
    c.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    c
  }

  private val reader = new VectorizedParquetRecordReader(
    null, "CORRECTED", "UTC", "CORRECTED", "UTC",
    /* useOffHeap = */ false, /* capacity = */ 4096)

  locally {
    val p = new org.apache.hadoop.fs.Path(file)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    // mapred.FileSplit (which extends the mapreduce one): Spark's
    // SpecificParquetRecordReaderBase casts its InputSplit to the
    // mapred class.
    val split = new org.apache.hadoop.mapred.FileSplit(
      p, 0, len, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID(),
        org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, attempt)
    try naming {
      reader.initialize(split, ctx)
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
    } catch { case e: Throwable => reader.close(); throw e }
  }

  /** Spark's decode errors name the column, not the file. */
  private def naming[T](body: => T): T =
    try body catch {
      case scala.util.control.NonFatal(e) => throw new java.io.IOException(
        s"graft: cannot read parquet file $file: ${e.getMessage}", e)
    }

  override def next(): Boolean = naming(reader.nextKeyValue())
  override def get(): ColumnarBatch =
    reader.getCurrentValue.asInstanceOf[ColumnarBatch]
  override def close(): Unit = reader.close()
}
