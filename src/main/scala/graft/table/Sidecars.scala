package graft.table

import java.io.FileNotFoundException
import java.net.{URLDecoder, URLEncoder}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.ops.Cardinality
import graft.table.KeyDomain.Ranges

/** The facts a snapshot sink keeps beside its data, and the sink's
  * declarations: every read, write and codec of them. Like [[SnapLog]]
  * it works on a `FileSystem` and a sink path and submits no Spark job;
  * the jobs that compute a fact (a bloom build, a range aggregate, a
  * profile sketch) stay with their callers.
  *
  * Per data dir — immutable once written, so each fact is true forever:
  *   - `.stats`: per stat column its range, and the row total
  *     ([[KeyDomain.statsLines]]);
  *   - `.bloom2`: membership of the dir's key canons;
  *   - `.profile`: the drift gate's row count, and per column the null
  *     count and KMV sketch;
  *   - the Spark schema in the parquet footers of its data files.
  *
  * A per-dir fact may cost speed but never changes results: a missing
  * file reads as absent, and one that cannot be read or parsed reads as
  * absent with a WARN, so the caller probes or scans the dir.
  *
  * Per sink, the declarations: `keys.cols`, `skip.cols`, `schema.map`
  * and the `gate.on` marker. Each keeps its own failure policy, stated
  * at its reader.
  *
  * Every read is one open; `FileNotFoundException` means absent. */
private[graft] object Sidecars {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A parsed `.stats` file: column → (tag, None = no non-null value |
    * Some(min, max)), and the row total (None when its line is absent or
    * torn). */
  final case class Stats(ranges: Map[String, (String, Option[KeyDomain.Range])],
      rows: Option[Long])

  /** A `.profile`: the row count, and per column (nulls, the KMV
    * sketch's fingerprints, ascending). */
  type Profile = (Long, Map[String, (Long, Array[String])])

  // ── per-dir facts ───────────────────────────────────────────────

  /** `read` of sidecar `p`: None when it is absent, or unreadable or
    * malformed (WARN). */
  private def fact[T](p: Path)(read: => T): Option[T] =
    try Some(read) catch {
      case _: FileNotFoundException => None
      case NonFatal(e) =>
        log.warn("graft: sidecar {} not read, falling back: {}", p, e)
        None
    }

  /** `dir`'s `.stats`. A line that does not parse makes the whole file
    * absent: a sidecar written by a plain truncating create can be torn. */
  def stats(fs: FileSystem, path: String, dir: String): Option[Stats] = {
    val p = SnapLog.stats(path, dir)
    fact(p)(Stats.tupled(KeyDomain.parseStats(SnapLog.readLines(fs, p))))
  }

  /** Write `dir`'s `.stats`; false when there is no line to record. */
  def writeStats(fs: FileSystem, path: String, dir: String, ranges: Ranges,
      totalRows: Long): Boolean = {
    val lines = KeyDomain.statsLines(ranges, totalRows)
    if (lines.nonEmpty)
      SnapLog.writeText(fs, SnapLog.stats(path, dir), lines.mkString("\n"))
    lines.nonEmpty
  }

  /** `dir`'s `.bloom2`; a dir without one is always probed. */
  def bloom(fs: FileSystem, path: String, dir: String): Option[BloomFilter] = {
    val p = SnapLog.bloom(path, dir)
    fact(p)(SnapLog.read(fs, p)(BloomFilter.readFrom))
  }

  def writeBloom(fs: FileSystem, path: String, dir: String)(
      body: java.io.OutputStream => Unit): Unit =
    SnapLog.write(fs, SnapLog.bloom(path, dir))(body)

  /** `dir`'s `.profile`; a dir without one is profiled again. Format:
    * `#rows TAB n`, then per column `urlenc(col) TAB nulls TAB fp,fp,…`. */
  def profile(fs: FileSystem, path: String, dir: String): Option[Profile] = {
    val p = SnapLog.profile(path, dir)
    fact(p) {
      val lines = SnapLog.readLines(fs, p).filter(_.nonEmpty)
      (lines.head.split("\t")(1).toLong, lines.tail.map { l =>
        val parts = l.split("\t", -1)
        val fps = if (parts(2).isEmpty) Array.empty[String]
                  else parts(2).split(",")
        URLDecoder.decode(parts(0), "UTF-8") -> ((parts(1).toLong, fps))
      }.toMap)
    }
  }

  /** Best-effort: a missing profile only costs the next gated publish a
    * profile pass over that dir. */
  def writeProfile(fs: FileSystem, path: String, dir: String,
      profile: Profile): Unit =
    try {
      val (rows, m) = profile
      val lines = s"#rows\t$rows" +: m.toSeq.sortBy(_._1).map {
        case (c, (nulls, fps)) =>
          s"${URLEncoder.encode(c, "UTF-8")}\t$nulls\t${fps.mkString(",")}"
      }
      SnapLog.writeText(fs, SnapLog.profile(path, dir), lines.mkString("\n"))
    } catch { case NonFatal(e) =>
      log.warn("graft: profile sidecar of {} not written: {}", dir, e) }

  /** Profile union: counts add; a column missing on one side was
    * all-NULL there (unionByName allowMissingColumns semantics);
    * sketches union-then-recap at `k`. */
  def mergeProfiles(a: Profile, b: Profile, k: Int): Profile = {
    val ((aRows, aM), (bRows, bM)) = (a, b)
    (aRows + bRows, (aM.keySet ++ bM.keySet).iterator.map { c =>
      val (an, af) = aM.getOrElse(c, (aRows, Array.empty[String]))
      val (bn, bf) = bM.getOrElse(c, (bRows, Array.empty[String]))
      c -> ((an + bn, Cardinality.union(af, bf, k)))
    }.toMap)
  }

  /** The parquet data files of data dir `dir`, by name. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    }.sortBy(_.getPath.getName)

  /** Key under which Spark stores the writing frame's schema in every
    * parquet footer it writes. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema in the footer of `dir`'s first data file: every
    * file of a dir comes from one write, so one footer speaks for all,
    * and a Spark write always leaves at least one file (partition 0
    * writes even when empty, carrying the schema). */
  def footerSchema(fs: FileSystem, dir: Path): StructType = {
    val st = dataFiles(fs, dir).headOption.getOrElse(
      throw new IllegalStateException(s"no parquet data file in $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(SparkSchemaKey) finally reader.close()
    if (json == null) throw new IllegalStateException(
      s"${st.getPath}: no Spark schema in the footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  // ── sink declarations ───────────────────────────────────────────
  // `keys.cols` and `skip.cols` share one codec: one column per line.

  private def declared(fs: FileSystem, p: Path): Seq[String] =
    SnapLog.readLinesIfExists(fs, p).getOrElse(Nil).filter(_.nonEmpty)

  /** The sink's key columns; Nil when none were recorded. A file that
    * cannot be read fails the call. */
  def keyCols(fs: FileSystem, path: String): Seq[String] =
    declared(fs, SnapLog.keyCols(path))

  /** Record the sink's key columns, persisted so keyless ops
    * (compaction) can still stamp stats for the dirs they write. Written
    * only when absent or different, tmp then rename: a reader never
    * catches a truncated declaration, which would make a compaction
    * write its dir keyless. Best-effort: a failure logs a WARN. */
  def recordKeyCols(fs: FileSystem, path: String, keys: Seq[String]): Unit =
    try {
      val cur = keyCols(fs, path)
      if (cur != keys && !SnapLog.install(fs, SnapLog.keyCols(path),
          keys.mkString("\n"), replace = cur.nonEmpty))
        log.warn("graft: key columns of {} not recorded: rename refused", path)
    } catch { case NonFatal(e) =>
      log.warn("graft: key columns of {} not recorded: {}", path, e) }

  /** The declared skip columns; a file that cannot be read logs a WARN
    * and skips none (pruning is an optimization). */
  def skipCols(fs: FileSystem, path: String): Seq[String] =
    try declared(fs, SnapLog.skipCols(path))
    catch { case NonFatal(e) =>
      log.warn("graft: skip columns of {} not read, skipping none: {}", path, e)
      Nil }

  /** Declare the skip columns, replacing the previous declaration. */
  def declareSkipCols(fs: FileSystem, path: String, cols: Seq[String]): Unit = {
    fs.mkdirs(SnapLog.snapDir(path))
    SnapLog.writeText(fs, SnapLog.skipCols(path), cols.mkString("\n"))
  }

  /** One `schema.map` line: `kind TAB urlenc(a) TAB b`, where `b` is
    * url-coded too except for an `add`'s type DDL. */
  private def encodeMapLine(kind: String, a: String, b: String): String =
    s"$kind\t${URLEncoder.encode(a, "UTF-8")}\t" +
      (if (kind == "add") b else URLEncoder.encode(b, "UTF-8"))

  private def decodeMapLine(l: String): (String, String, String) = {
    val x = l.split("\t", 3)
    (x(0), URLDecoder.decode(x(1), "UTF-8"),
      if (x(0) == "add") x(2) else URLDecoder.decode(x(2), "UTF-8"))
  }

  /** (kind, a, b) triples in declaration order: ("add", name, ddl) |
    * ("rename", from, to) | ("drop", name, "-"). A map that cannot be
    * read or parsed FAILS the call, naming the file: read as empty, it
    * would serve the unmapped view, and [[appendSchemaMapLine]] would
    * rewrite it with every earlier evolution line erased. */
  def schemaMap(fs: FileSystem, path: String): Seq[(String, String, String)] = {
    val file = SnapLog.schemaMap(path)
    try declared(fs, file).map(decodeMapLine)
    catch { case NonFatal(e) =>
      throw new java.io.IOException(s"graft: cannot read $file: $e", e) }
  }

  /** Append one evolution line under the REWRITER LOCK, published by
    * tmp+rename: evolution ops are rare admin actions, but a plain
    * read-modify-overwrite had two silent failure modes — concurrent
    * declarations losing lines, and a reader catching the truncate
    * window of an overwriting create, seeing an EMPTY map, and serving
    * unhealed data / landing un-normalized batches (the exact fork the
    * map exists to prevent). The lock serializes declarers; the rename
    * makes every read all-or-nothing. */
  def appendSchemaMapLine(fs: FileSystem, path: String, kind: String,
      a: String, b: String): Unit = {
    fs.mkdirs(SnapLog.snapDir(path))
    SnapLog.withRewriterLock(fs, path, s"${kind}Column") {
      val lines = schemaMap(fs, path).map((encodeMapLine _).tupled) :+
        encodeMapLine(kind, a, b)
      if (!SnapLog.install(fs, SnapLog.schemaMap(path), lines.mkString("\n"),
          replace = true))
        throw new java.io.IOException(
          s"schema.map publish failed at $path — declaration NOT applied")
    }
  }

  /** Does the sink keep `.profile` sidecars (has a gated write opted
    * it in)? */
  def gateOn(fs: FileSystem, path: String): Boolean =
    fs.exists(SnapLog.gateMarker(path))

  /** Opt the sink into `.profile` sidecars. Best-effort: without the
    * marker, dirs get no profile and the gate profiles them on demand. */
  def markGate(fs: FileSystem, path: String): Unit =
    try { if (!gateOn(fs, path)) SnapLog.writeText(fs, SnapLog.gateMarker(path), "") }
    catch { case NonFatal(e) =>
      log.warn("graft: gate.on marker of {} not written: {}", path, e) }
}
