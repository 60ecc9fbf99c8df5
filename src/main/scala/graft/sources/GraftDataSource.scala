package graft.sources

import java.util

import graft.ops.Upsert
import graft.table.{KeyDomain, Sidecars}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** PLAN-INTEGRATED snapshot reads: the graft snapshot sink as a
  * DataSource V2 relation —
  *
  * {{{
  *   spark.read.format("graft").load(path)                     // latest
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   spark.read.format("graft").option("timestampAsOf", ms).load(path)
  * }}}
  *
  * Every feature the library exposes as an explicit entry point rides
  * the plain DataFrame API here, through Catalyst's own pushdown rule
  * (V2ScanRelationPushDown):
  *
  *   - `.filter($"score" > x)` → [[SupportsPushDownFilters]]: the
  *     filters' per-column bounding boxes route to the sidecar dir
  *     pruning ([[Upsert.readSnapshotWhere]] — range stats + declared
  *     skip columns), so the scan opens only admitted dirs and the
  *     bounds push to parquet row-group skipping inside them. Filters
  *     are ALSO kept as residuals (Spark re-evaluates them): pruning
  *     accelerates, exactness never rests on it.
  *   - `COUNT(*)` / `MIN(col)` / `MAX(col)` with no filter/grouping →
  *     [[SupportsPushDownAggregates]] (complete pushdown): answered
  *     from the `.stats` sidecars at driver-metadata cost
  *     ([[Upsert.countSnapshot]] / [[Upsert.minMaxSnapshot]]) — the
  *     plan contains no scan at all, a one-row local relation.
  *   - column projection → [[SupportsPushDownRequiredColumns]]: the
  *     select lands on the inner parquet read, so ReadSchema prunes.
  *
  * Execution delegates to the library's audited read paths via
  * [[V1Scan]] (the JDBC connector's own bridge): the scan plans the
  * equivalent library DataFrame and hands Spark its RDD — one code
  * path for pruning/pushdown whether the caller uses the API or SQL.
  *
  * The version is pinned at table resolution: a concurrent publish
  * between planning and execution never tears a read (same contract
  * as `readSnapshot`). The reference system has no storage layer at
  * all (ref `etl.py:1-487`); this is the extension surface's Spark
  * face. */
/** User-option parsing with the same friendly contract as the
  * catalog's `VERSION AS OF`: a malformed value names the option and
  * the value instead of surfacing a bare NumberFormatException. */
private[sources] object GraftOptions {
  def int(name: String, v: String): Int =
    scala.util.Try(v.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"graft: option '$name' wants an integer snapshot version, " +
          s"got '$v'"))
  def long(name: String, v: String): Long =
    scala.util.Try(v.trim.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"graft: option '$name' wants an epoch-millis long, got '$v'"))
}

class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(opts: CaseInsensitiveStringMap): String = {
    val p = opts.get("path")
    require(p != null && p.nonEmpty,
      "graft: a snapshot sink path is required — spark.read.format(\"graft\").load(path)")
    p
  }

  /** Version pinned at inferSchema time, CONSUMED by the paired
    * getTable: Spark calls the two back-to-back on the same thread for
    * one read, and a publish landing between them must not let the
    * table resolve a NEWER version than the schema was derived from
    * (the scan would serve one version's rows through another's
    * schema — neither snapshot as published). A ThreadLocal handoff
    * (set by inferSchema, removed by the first resolve that reads it)
    * instead of instance state, so a provider instance shared across
    * concurrent loads — catalog registration, two threads loading the
    * same path — can never serve one load's pin to another, and a
    * LATER getTable on the same thread (e.g. a user-schema read that
    * skips inferSchema) never consumes a stale pin. Keyed by path so
    * an interleaved load of a different sink is ignored, not misread.
    * The pin also carries the DERIVED SCHEMA and is honored only when
    * the paired getTable resolves the SAME schema: if analysis aborted
    * between the pair and a later load of the same path on this thread
    * arrives with a different (user) schema, the stale pin is dropped
    * and the version resolves fresh — a pin can never serve one
    * schema's rows through another's shape. (A later load passing the
    * byte-identical schema still consumes the pin; that read is
    * self-consistent — V's rows through V's schema — merely pinned to
    * the version the aborted load derived.) */
  private val pinned = new ThreadLocal[Option[(String, Int, StructType)]] {
    override def initialValue(): Option[(String, Int, StructType)] = None
  }

  // Writes arrive with the frame's own schema (a fresh sink has
  // nothing to infer); reads without a user schema still go through
  // inferSchema.
  override def supportsExternalMetadata(): Boolean = true

  /** Version 0 = fresh sink: legal as a WRITE target (the bootstrap
    * publish), refused at scan time. */
  private def resolveVersion(spark: SparkSession,
      opts: CaseInsensitiveStringMap,
      expectSchema: Option[StructType] = None): Int = {
    // Consume the pin for this path UNCONDITIONALLY, before any branch:
    // a versionAsOf load's inferSchema leaves a pin behind (its
    // resolveVersion short-circuits on the explicit version), and a
    // later same-thread user-schema getTable on the same path with a
    // byte-identical schema would silently consume it and read the old
    // pinned version instead of latest.
    val pin = {
      val p0 = pinned.get().collect {
        case (p, pv, ps) if p == pathOf(opts) &&
          expectSchema.forall(_ == ps) => pv }
      if (pinned.get().exists(_._1 == pathOf(opts))) pinned.remove()
      p0
    }
    Option(opts.get("versionAsOf"))
      .map(GraftOptions.int("versionAsOf", _))
      // The pin outranks a timestampAsOf RE-resolution: inferSchema
      // already resolved the timestamp once, and a publish landing
      // inside the inferSchema→getTable window must not move the
      // table past the schema it was derived from (explicit
      // versionAsOf is deterministic either way, so its order is
      // irrelevant — it stays first for clarity). Consumed: one pin
      // serves exactly one getTable, and ONLY a getTable resolving
      // the schema the pin was derived for (see the pin's doc).
      .orElse(pin)
      .orElse(Option(opts.get("timestampAsOf"))
        .map(ts => Upsert.versionAsOf(spark, pathOf(opts),
          GraftOptions.long("timestampAsOf", ts))))
      .getOrElse(Upsert.latestVersion(spark, pathOf(opts)))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = pathOf(options)
    if (GraftChangeFeed.isFeed(options)) {
      // The CHANGE-FEED relation (batch span / streaming source):
      // op + the logical shape of the span's endpoint.
      val to = Option(options.get("endingVersion"))
        .map(GraftOptions.int("endingVersion", _))
        .getOrElse(Upsert.latestVersion(spark, path))
      require(to >= 1, s"graft: no published snapshot at $path")
      return GraftChangeFeed.feedSchema(spark, path, to,
        GraftChangeFeed.opColOf(options))
    }
    pinned.remove() // resolve fresh, then pin for the paired getTable
    val v = resolveVersion(spark, options)
    // inferSchema runs only on READS (writes carry the frame's own
    // schema into getTable via supportsExternalMetadata) — a fresh or
    // mistyped path must fail HERE with the real message, not surface
    // as an empty schema whose first error is an unrelated
    // UNRESOLVED_COLUMN on the user's next select.
    require(v >= 1, s"graft: no published snapshot at $path")
    val schema = Upsert.snapshotLogicalSchema(spark, path, v)
    // Pin only AFTER the derivation succeeded: a throw above must not
    // leak a pin a later user-schema getTable on this thread (which
    // skips inferSchema) would silently consume.
    pinned.set(Some((path, v, schema)))
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val spark = SparkSession.active
    val path = pathOf(opts)
    if (GraftChangeFeed.isFeed(opts))
      new GraftFeedTable(path, schema,
        GraftChangeFeed.keysOf(spark, path, opts),
        GraftChangeFeed.opColOf(opts),
        Option(opts.get("startingVersion")).map(_.trim).getOrElse(""),
        Option(opts.get("endingVersion"))
          .map(GraftOptions.int("endingVersion", _)),
        Option(opts.get("maxVersionsPerBatch")).map { v =>
          val n = GraftOptions.int("maxVersionsPerBatch", v)
          require(n >= 1,
            s"graft changeFeed: maxVersionsPerBatch wants >= 1, got $n")
          n
        })
    else
      new GraftTable(path, resolveVersion(spark, opts, Some(schema)), schema)
  }
}

private[sources] class GraftTable(path: String, version: Int,
    tableSchema: StructType,
    // Catalog tables exist the moment CREATE TABLE runs: a SELECT
    // before the first INSERT is an EMPTY table, not an error. Path
    // reads keep the loud failure (a mistyped path must not read as
    // silently empty) — only the catalog, which has verified the
    // table's existence, sets this.
    emptyReadable: Boolean = false)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft.`$path`@v$version"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA: the sink normalizes batches itself (declared
  // schema evolution + additive mergeSchema are sink features) — the
  // planner's positional append check would refuse exactly the writes
  // the sink exists to absorb, and a FRESH sink has no schema to
  // check against.
  // BOTH write capabilities: DataFrameWriter's existence check wants
  // BATCH_WRITE; the V1Write fallback rule routes by V1_BATCH_WRITE.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (version == 0 && emptyReadable)
      return () => new Scan with V1Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String =
          s"GraftSnapshot path=$path (empty: created, never written)"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = tableSchema
            override def buildScan(): org.apache.spark.rdd.RDD[Row] =
              context.sparkSession.sparkContext.emptyRDD[Row]
          }.asInstanceOf[T]
      }
    require(version >= 1, s"graft: no published snapshot at $path")
    new GraftScanBuilder(path, version, tableSchema)
  }

  /** APPEND = one keep-existing snapshot publish per write (V1Write →
    * [[Upsert.writeSnapshot]] — the same dedup/anti-join/reconcile
    * path as the library API):
    *
    * {{{
    *   df.write.format("graft").option("keys", "id")
    *     .mode("append").save(path)                 // keep-existing
    *   cdc.write.format("graft").option("keys", "id")
    *     .option("mergeOp", "op").mode("append").save(path)   // I/U/D
    *   cdc.write.format("graft").option("keys", "id")
    *     .option("mergeOp", "op").option("mor", "true")…      // + dvs
    * }}}
    *
    * `keys` (comma-separated) is REQUIRED — the sink is keyed by
    * contract; `tieBreak` defaults to the keys. `mergeOp` names an
    * I/U/D column and routes to [[Upsert.mergeSnapshot]] (`mor=true`
    * → [[Upsert.mergeSnapshotMoR]]). Overwrite mode is refused: the
    * sink's history IS the product — use merge deletes, eraseKeys or
    * expireSnapshots, each with its own explicit contract. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation()
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            require(!overwrite,
              s"graft: overwrite is not supported — the snapshot sink " +
                "is append/merge (history is the product); use mergeOp " +
                "deletes, eraseKeys or expireSnapshots")
            val opts = info.options
            // POSITIONAL resolution for SQL INSERTs: ACCEPT_ANY_SCHEMA
            // skips Spark's own output mapping, so `INSERT … VALUES`
            // arrives as col1/col2/…. When the arity matches the
            // table's schema and NO incoming name matches a table
            // column, rename positionally (SQL INSERT semantics); any
            // name overlap means the caller addressed columns by name
            // and the frame passes through untouched.
            val frame = {
              // Positional ONLY for frames that are recognizably SQL
              // INSERT output: the arity matches and every name the
              // table does not declare is EXPRESSION-SHAPED — `colN`
              // (VALUES) or a non-identifier like `(n_chars + 777)`
              // (unaliased expressions). A same-arity frame carrying a
              // real identifier the table lacks is a user's NAMED
              // frame: it passes through by name and the sink absorbs
              // the new column (additive evolution) — positionally
              // renaming it would silently mis-assign values across
              // columns. Frames whose names are all table columns are
              // by-name by contract (documented deviation: a SQL
              // `INSERT INTO t SELECT b, a` whose source columns are
              // literally named b, a resolves by NAME here, not
              // position — alias the select if position is meant).
              // CDC/evolution batches differ in arity and pass
              // through untouched.
              def exprShaped(n: String): Boolean =
                n.matches("col[0-9]+") ||
                  !n.matches("[A-Za-z_][A-Za-z0-9_]*")
              val unknown = data.columns
                .filterNot(tableSchema.fieldNames.contains)
              val renamed =
                if (tableSchema.nonEmpty &&
                    data.columns.length == tableSchema.fields.length &&
                    unknown.nonEmpty && unknown.forall(exprShaped))
                  data.toDF(tableSchema.fieldNames.toIndexedSeq: _*)
                else data
              // Storage-assignment casts (the other half of the skipped
              // resolution): a VALUES literal's narrow type must land
              // as the DECLARED type, or the first insert would freeze
              // the sink's physical schema narrower than the table and
              // every later well-typed batch would fail mergeSchema.
              // Columns the table does not declare (a mergeOp marker)
              // pass through untouched.
              renamed.select(renamed.columns.toIndexedSeq.map { c =>
                tableSchema.fields.find(_.name == c) match {
                  case Some(f) if f.dataType != renamed.schema(c).dataType =>
                    col(c).cast(f.dataType).as(c)
                  case _ => col(c)
                }
              }: _*)
            }
            // Keys: the write option, falling back to the sink's
            // recorded declaration (a catalog CREATE TABLE or any
            // earlier keyed write) — so a plain `INSERT INTO` works.
            val spark0 = data.sparkSession
            val keys = Option(opts.get("keys"))
              .map(_.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty))
              .filter(_.nonEmpty)
              .getOrElse(Sidecars.keyCols(new org.apache.hadoop.fs.Path(path)
                .getFileSystem(spark0.sparkContext.hadoopConfiguration), path)
                .toIndexedSeq)
            require(keys.nonEmpty,
              "graft: writes require option(\"keys\", \"col[,col…]\") — " +
                "the snapshot sink is keyed (keep-existing upsert); a " +
                "catalog table declares them once at CREATE TABLE")
            val tieBreak = Option(opts.get("tieBreak"))
              .map(_.split(",").toIndexedSeq.map(_.trim)
                .filter(_.nonEmpty))
              .getOrElse(keys)
            Option(opts.get("mergeOp")) match {
              case Some(op) if Option(opts.get("mor"))
                  .exists(_.trim.equalsIgnoreCase("true")) =>
                Upsert.mergeSnapshotMoR(spark0, path, frame, keys,
                  tieBreak, op)
              case Some(op) =>
                Upsert.mergeSnapshot(spark0, path, frame, keys, tieBreak, op)
              case None =>
                Upsert.writeSnapshot(spark0, path, frame, keys, tieBreak)
            }
            ()
          }
      }
    }
}

/** One pushed MIN/MAX/COUNT(*) column of a complete aggregate pushdown. */
private[sources] sealed trait AggCol { def field: StructField }
private[sources] case object CountStarCol extends AggCol {
  val field: StructField = StructField("COUNT(*)", LongType, nullable = false)
}
private[sources] final case class MinCol(name: String, dt: DataType)
    extends AggCol {
  val field: StructField = StructField(s"MIN($name)", dt, nullable = true)
}
private[sources] final case class MaxCol(name: String, dt: DataType)
    extends AggCol {
  val field: StructField = StructField(s"MAX($name)", dt, nullable = true)
}

private[sources] class GraftScanBuilder(path: String, version: Int,
    tableSchema: StructType)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with SupportsPushDownLimit {

  private var required: StructType = tableSchema
  private var bounds: KeyDomain.Bounds = Map.empty
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[Seq[AggCol]] = None
  private var limit: Option[Int] = None

  // LIMIT rides the inner read (df.limit → CollectLimit inside the
  // bridged plan — the scan stops after n rows instead of
  // materializing the corpus for a `.show()`); PARTIAL by contract
  // (Spark keeps its own limit on top), which is also what makes it
  // sound next to residual filters.
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  // ── filter → closed per-column bounding box ─────────────────────
  // Folding lives in [[FilterBounds]] (shared with the Batch scan's
  // runtime filters): each usable comparison contributes a one-sided
  // canonical bound; per column the los max-fold and the his min-fold
  // (intersection of the conjuncts). Strict inequalities bound CLOSED
  // at the same value — a sound superset; the residual filter restores
  // exactness. One-sided results complete with the tag's domain
  // sentinel (strings have no upper sentinel — an upper-unbounded
  // string column simply contributes no box and prunes nothing).

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      FilterBounds.boundOf(tableSchema, f).isDefined)
    bounds = FilterBounds.fold(tableSchema, filters)
    // EVERYTHING stays residual: the bounds accelerate (dir pruning +
    // row-group skipping), Spark's re-evaluation keeps strictness and
    // un-boundable predicates exact.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ── complete aggregate pushdown (unfiltered, ungrouped) ─────────
  // Residual filters block V2ScanRelationPushDown from ever calling
  // this with a filtered plan, so acceptance here means the aggregate
  // is over the WHOLE version — exactly the contract countSnapshot /
  // minMaxSnapshot answer at driver-metadata cost.

  private def namedCol(f: AggregateFunc,
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[(String, DataType)] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val name = nr.fieldNames()(0)
      tableSchema.fields.find(_.name == name)
        .filter(fl => KeyDomain.tagOf(fl.dataType).isDefined)
        .map(fl => (name, fl.dataType))
    case _ => None
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty) return false
    val cols = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountStarCol)
      case m: Min => namedCol(m, m.column).map { case (n, dt) => MinCol(n, dt) }
      case m: Max => namedCol(m, m.column).map { case (n, dt) => MaxCol(n, dt) }
      case _ => None
    }
    if (cols.exists(_.isEmpty)) false
    else { agg = Some(cols.flatten); true }
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    pushAggregation(aggregation)

  override def build(): Scan = {
    // ROUTE: plain row scans (no pushed aggregate/limit) on an
    // evolution-free, dv-less snapshot go to the BATCH path — the one
    // Spark's runtime filtering (broadcast-join build-side pruning) can
    // reach. Pushed aggregates (metadata one-row answer), pushed limits
    // (early-stop inside the bridged plan), MoR versions and
    // schema-mapped sinks stay on the V1 bridge. Both paths keep every
    // filter residual, so the route is a performance choice, never a
    // correctness one.
    val batchable = agg.isEmpty && limit.isEmpty &&
      Upsert.batchScanEligible(SparkSession.active, path, version)
    if (batchable)
      new GraftBatchScan(path, version, tableSchema, required, bounds, pushed)
    else
      new GraftScan(path, version, required, bounds, pushed, agg, limit)
  }
}

private[sources] class GraftScan(path: String, version: Int,
    required: StructType, bounds: KeyDomain.Bounds,
    pushed: Array[Filter], agg: Option[Seq[AggCol]],
    limit: Option[Int]) extends V1Scan {

  override def readSchema(): StructType =
    agg.map(cs => StructType(cs.map(_.field))).getOrElse(required)

  override def description(): String =
    s"GraftSnapshot path=$path, version=$version, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      agg.map(cs => s", PushedAggregates: [${
        cs.map(_.field.name).mkString(", ")}]").getOrElse("")

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftV1Relation(context, path, version, readSchema(), bounds,
      agg, limit).asInstanceOf[T]
}

private[sources] class GraftV1Relation(ctx: SQLContext, path: String,
    version: Int, out: StructType, bounds: KeyDomain.Bounds,
    agg: Option[Seq[AggCol]], limit: Option[Int])
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = out

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    agg match {
      case Some(cols) =>
        // Metadata answer: one local row, zero executor scan work.
        val mmCache = scala.collection.mutable.Map
          .empty[String, (Option[Any], Option[Any])]
        def mm(c: String) = mmCache.getOrElseUpdate(c,
          Upsert.minMaxSnapshot(spark, path, version, c))
        val row = Row(cols.map {
          case CountStarCol => Upsert.countSnapshot(spark, path, version)
          case MinCol(c, dt) => mm(c)._1.map(KeyDomain.toExternal(_, dt)).orNull
          case MaxCol(c, dt) => mm(c)._2.map(KeyDomain.toExternal(_, dt)).orNull
        }: _*)
        spark.sparkContext.parallelize(Seq(row), 1)
      case None =>
        val df0 =
          if (bounds.nonEmpty)
            Upsert.readSnapshotWithin(spark, path, version, bounds)
          else Upsert.readSnapshot(spark, path, version)
        val projected = df0.select(out.fieldNames.toIndexedSeq.map(col): _*)
        limit.map(projected.limit).getOrElse(projected).rdd
    }
  }
}
