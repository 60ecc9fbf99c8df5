package graft.sources

import java.util

import graft.ops.Upsert
import graft.table.SnapLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** NAMED-TABLE access to graft snapshot sinks — the pure-SQL face of
  * everything the path API exposes:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE TABLE graft.db.trades (id BIGINT, v STRING)
  *     OPTIONS ('keys' = 'id')
  *   INSERT INTO graft.db.trades SELECT ...          -- keyed publish
  *   SELECT * FROM graft.db.trades                   -- latest
  *   SELECT * FROM graft.db.trades VERSION AS OF 3   -- time travel
  *   SELECT * FROM graft.db.trades TIMESTAMP AS OF '2026-01-01'
  *   df.writeTo("graft.db.trades").append()
  * }}}
  *
  * A table IS a sink directory at `<warehouse>/<namespace…>/<name>` —
  * the catalog adds naming, SQL DDL and time-travel syntax on top of
  * the one storage layout, so catalog and path reads share every scan,
  * pushdown and probe-audit path ([[GraftTable]] is returned either
  * way; nothing is re-implemented). `CREATE TABLE` persists the
  * declared keys (from the `keys` option) and schema so the first
  * `INSERT` bootstraps the keyed sink; `DROP TABLE` deletes the sink
  * (history included — it is the table). RENAME is refused: dir names
  * participate in manifests, sidecars and provenance records, so a
  * rename would orphan the sink's own metadata — copy-and-backfill is
  * the honest migration, as in the library API. */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"graft catalog '$name': set spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Identifier segments compose a FILESYSTEM path under the
    * warehouse, so each one must be a plain directory name: a
    * backticked `..`, an absolute segment or an embedded separator
    * would resolve OUTSIDE the warehouse — and dropTable then
    * recursively deletes whatever that path points at. Refused loudly
    * at every entry point (tablePath is the one composer). */
  private def validSegment(s: String): Boolean =
    s.nonEmpty && s != "." && s != ".." &&
      !s.contains('/') && !s.contains('\\')

  private def requireValidSegments(segs: Seq[String]): Unit = {
    val bad = segs.filterNot(validSegment)
    require(bad.isEmpty,
      s"graft catalog: illegal identifier segment(s) ${
        bad.map(b => s"'$b'").mkString(", ")} — names must be plain " +
        "directory names (no empty, '.', '..' or path separators)")
  }

  private def tablePath(ident: Identifier): String = {
    val segs = ident.namespace.toSeq :+ ident.name
    requireValidSegments(segs)
    segs.foldLeft(new org.apache.hadoop.fs.Path(warehouse))(
      new org.apache.hadoop.fs.Path(_, _)).toString
  }

  /** The declared schema persisted by CREATE TABLE — what a read or a
    * positional INSERT resolves against before the first publish. */
  private def createdSchema(path: String): Option[StructType] = {
    val p = SnapLog.tableSchema(path)
    SnapLog.readTextIfExists(fs(p), p).flatMap(json =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]).toOption)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireValidSegments(namespace.toSeq)
    val nsPath = namespace.foldLeft(
      new org.apache.hadoop.fs.Path(warehouse))(
      new org.apache.hadoop.fs.Path(_, _))
    val f = fs(nsPath)
    if (!f.exists(nsPath)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    f.listStatus(nsPath).toSeq
      .filter(st => st.isDirectory && SnapLog.isSink(f, st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    val f = fs(SnapLog.snapDir(path))
    if (!SnapLog.isSink(f, path)) throw new NoSuchTableException(ident)
    val v = Upsert.latestVersion(spark, path)
    val schema =
      if (v >= 1) Upsert.snapshotLogicalSchema(spark, path, v)
      else createdSchema(path).getOrElse(new StructType())
    // emptyReadable: a created-but-never-written catalog table SELECTs
    // as 0 rows (every SQL engine's contract), not an error — the
    // catalog has already verified the table exists.
    new GraftTable(path, v, schema, emptyReadable = true)
  }

  /** `VERSION AS OF <n>` — the catalog face of `versionAsOf`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    val f = fs(SnapLog.snapDir(path))
    if (!SnapLog.isSink(f, path)) throw new NoSuchTableException(ident)
    val v = scala.util.Try(version.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"graft: VERSION AS OF wants an integer snapshot version, " +
          s"got '$version'"))
    new GraftTable(path, v, Upsert.snapshotLogicalSchema(spark, path, v))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    val f = fs(SnapLog.snapDir(path))
    if (!SnapLog.isSink(f, path)) throw new NoSuchTableException(ident)
    val v = Upsert.versionAsOf(spark, path, timestamp / 1000L)
    new GraftTable(path, v, Upsert.snapshotLogicalSchema(spark, path, v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    require(partitions.isEmpty,
      "graft: PARTITIONED BY is not supported — the sink partitions by " +
        "its own dir protocol (key-range batches + compaction)")
    val path = tablePath(ident)
    val f = fs(SnapLog.snapDir(path))
    if (SnapLog.isSink(f, path)) throw new TableAlreadyExistsException(ident)
    f.mkdirs(SnapLog.snapDir(path))
    // Declared keys persist NOW so the first INSERT bootstraps keyed:
    // SQL DDL carries them as OPTIONS ('keys'='…') → "option.keys";
    // writeTo/saveAsTable options arrive under the same prefix.
    val keysProp = Option(properties.get("option.keys"))
      .orElse(Option(properties.get("keys")))
    keysProp.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .foreach { ks =>
        // Fail the DDL, not the first INSERT: a typo'd key name would
        // otherwise persist and surface as a missing-column error deep
        // inside a later write.
        val missing = ks.filterNot(schema.fieldNames.contains)
        require(schema.isEmpty || missing.isEmpty,
          s"graft: key column(s) ${missing.mkString(", ")} not in the " +
            s"declared schema (${schema.fieldNames.mkString(", ")})")
        Upsert.declareKeys(spark, path, ks)
      }
    if (schema.nonEmpty)
      SnapLog.writeText(f, SnapLog.tableSchema(path), schema.json)
    new GraftTable(path, 0, schema)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft: ALTER TABLE is not supported through the catalog — use " +
        "the declared-evolution API (addColumn/renameColumn/dropColumn), " +
        "whose refusal rules protect key identity")

  override def dropTable(ident: Identifier): Boolean = {
    val path = new org.apache.hadoop.fs.Path(tablePath(ident))
    val f = fs(path)
    if (!SnapLog.isSink(f, path.toString)) false
    else f.delete(path, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft: RENAME TABLE is not supported — dir names participate in " +
        "manifests, sidecars and provenance records; copy-and-backfill " +
        "into a new sink instead")
}
