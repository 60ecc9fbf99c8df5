package graft.table

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The layout of a snapshot sink's `_snapshots` log: every file name in
  * it, the small-file IO under every read and write of it, and the
  * rewriter lock. No other code builds a `_snapshots` path; the codecs
  * of the per-dir sidecars and the sink declarations are
  * [[Sidecars]]'.
  *
  * Per version N:
  *   - `v<N>.list` — the manifest (`v<N>.list.tmp` while publishing);
  *   - `v<N>.claim` — the version claim (`spent` once retired);
  *   - `v<N>.meta` — the publish stamp (epoch ms);
  *   - `v<N>.changes` + `v<N>.changes.meta` — the change record;
  *   - `v<N>.src` / `v<N>.feed` — an aggregate sink's coverage markers.
  *
  * Per sink: `gen-N.touch` / `erase-N.touch` (rewrite and erase
  * generations), `compact.lock`, `mor.on`, `gate.on`, `keys.cols`,
  * `skip.cols`, `schema.map` and the catalog's `table.schema`. Per data
  * dir `d`: the `d.stats`, `d.bloom2`, `d.profile` and `d.absorbed`
  * sidecars. */
private[graft] object SnapLog {

  def snapDir(path: String): Path = new Path(path, "_snapshots")

  private def file(path: String, name: String): Path =
    new Path(snapDir(path), name)

  /** Is `path` a snapshot sink (does it have a log)? */
  def isSink(fs: FileSystem, path: String): Boolean = fs.exists(snapDir(path))

  // ── names ───────────────────────────────────────────────────────

  def manifest(path: String, v: Int): Path = file(path, s"v$v.list")
  def claim(path: String, v: Int): Path = file(path, s"v$v.claim")
  def publishStamp(path: String, v: Int): Path = file(path, s"v$v.meta")
  def changesDir(path: String, v: Int): Path = file(path, s"v$v.changes")
  def changesMeta(path: String, v: Int): Path =
    file(path, s"v$v.changes.meta")
  def srcMarker(path: String, v: Int): Path = file(path, s"v$v.src")
  def feedMarker(path: String, v: Int): Path = file(path, s"v$v.feed")
  def rewriteGenMarker(path: String, v: Int): Path =
    file(path, s"gen-$v.touch")
  def eraseGenMarker(path: String, v: Int): Path =
    file(path, s"erase-$v.touch")
  def lock(path: String): Path = file(path, "compact.lock")
  def morMarker(path: String): Path = file(path, "mor.on")
  def gateMarker(path: String): Path = file(path, "gate.on")
  def keyCols(path: String): Path = file(path, "keys.cols")
  def skipCols(path: String): Path = file(path, "skip.cols")
  def schemaMap(path: String): Path = file(path, "schema.map")
  def tableSchema(path: String): Path = file(path, "table.schema")

  def stats(path: String, dir: String): Path = file(path, s"$dir.stats")
  /** The `.bloom2` suffix is a CANON VERSION: v1 (`.bloom`) sidecars
    * canonicalized timestamp/date keys via cast-to-string, which follows
    * the session timezone, so a probe under another zone false-negatived
    * and silently pruned dirs holding the key. The new name makes every
    * v1 sidecar invisible rather than wrong (a bloomless dir is always
    * probed); nothing writes v1 sidecars any more. */
  def bloom(path: String, dir: String): Path = file(path, s"$dir.bloom2")
  def profile(path: String, dir: String): Path = file(path, s"$dir.profile")
  def absorbed(path: String, dir: String): Path =
    file(path, s"$dir.absorbed")

  /** Every file version `v` owns, its manifest first. */
  def versionFiles(v: Int): Seq[String] =
    Seq("list", "meta", "src", "feed", "changes", "changes.meta")
      .map(s => s"v$v.$s")

  /** Numeric N from a protocol file name `<prefix>N<suffix>`; None for
    * anything malformed. Every name parse goes through this: operator
    * debris (a stray `vX.claim`, a hand-made `gen-old.touch`) must
    * never wedge the protocol — a bare `.toInt` would throw from every
    * later claim until someone deletes the debris by hand. */
  private def numberedName(n: String, prefix: String,
      suffix: String): Option[Int] =
    if (n.startsWith(prefix) && n.endsWith(suffix))
      scala.util.Try(
        n.stripPrefix(prefix).stripSuffix(suffix).toInt).toOption
    else None

  // ── listings ────────────────────────────────────────────────────

  /** One listing of the log; each question about it is a filter. */
  final case class Listing(statuses: Seq[FileStatus]) {
    private def numbered(prefix: String,
        suffix: String): Seq[(FileStatus, Int)] =
      statuses.flatMap(st =>
        numberedName(st.getPath.getName, prefix, suffix).map(st -> _))
    /** Published manifests with their file status. */
    def manifests: Seq[(FileStatus, Int)] = numbered("v", ".list")
    /** Published versions (crashed claims leave holes: not dense). */
    def versions: Seq[Int] = manifests.map(_._2)
    def latest: Int = versions.foldLeft(0)(math.max)
    def claimStatuses: Seq[FileStatus] = numbered("v", ".claim").map(_._1)
    def claims: Seq[Int] = numbered("v", ".claim").map(_._2)
    /** Every change-record file and dir, committed or not. */
    def changeRecords: Seq[Path] =
      statuses.map(_.getPath).filter(_.getName.contains(".changes"))
    def rewriteGens: Seq[Int] = numbered("gen-", ".touch").map(_._2)
    def eraseGens: Seq[Int] = numbered("erase-", ".touch").map(_._2)
  }

  /** The log's listing; the dir must exist. */
  def list(fs: FileSystem, path: String): Listing =
    Listing(fs.listStatus(snapDir(path)).toSeq)

  /** The log's listing, or None when `path` is no sink. */
  def listIfSink(fs: FileSystem, path: String): Option[Listing] =
    if (isSink(fs, path)) Some(list(fs, path)) else None

  // ── metadata files ──────────────────────────────────────────────

  /** Open `p`, hand the stream to `f`, always close it. */
  def read[T](fs: FileSystem, p: Path)(f: java.io.InputStream => T): T = {
    val in = fs.open(p)
    try f(in) finally in.close()
  }

  def readText(fs: FileSystem, p: Path): String =
    read(fs, p)(in => new String(in.readAllBytes(), UTF_8))

  private def lines(text: String): List[String] = text.split("\n").toList

  def readLines(fs: FileSystem, p: Path): List[String] =
    lines(readText(fs, p))

  /** The text of `p`, or None when it is absent: one open, no
    * `exists` call before it. */
  def readTextIfExists(fs: FileSystem, p: Path): Option[String] =
    try Some(readText(fs, p))
    catch { case _: java.io.FileNotFoundException => None }

  def readLinesIfExists(fs: FileSystem, p: Path): Option[List[String]] =
    readTextIfExists(fs, p).map(lines)

  /** Create (or overwrite) `p`, hand the stream to `f`, always close
    * it. */
  def write(fs: FileSystem, p: Path)(f: java.io.OutputStream => Unit): Unit = {
    val out = fs.create(p, true)
    try f(out) finally out.close()
  }

  def writeText(fs: FileSystem, p: Path, text: String): Unit =
    write(fs, p)(_.write(text.getBytes(UTF_8)))

  def tmpOf(p: Path): Path = new Path(p.getParent, p.getName + ".tmp")

  /** All-or-nothing publish of `text` at `dst`: write [[tmpOf]]`(dst)`,
    * then rename it over `dst` — readers see the old file or the new
    * one, never a torn write. `replace` deletes `dst` first (a rename
    * refuses an existing target), so the window between reads as "no
    * file". Returns the rename's result; on false the tmp stays. */
  def install(fs: FileSystem, dst: Path, text: String,
      replace: Boolean): Boolean = {
    val tmp = tmpOf(dst)
    writeText(fs, tmp, text)
    if (replace) fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  // ── file sets ───────────────────────────────────────────────────

  /** Delete data dir `d` and every sidecar it may own; missing files
    * are no-ops. */
  def dropDir(fs: FileSystem, path: String, d: String): Unit = {
    fs.delete(new Path(path, d), true)
    Seq(absorbed(path, d), stats(path, d), bloom(path, d), profile(path, d))
      .foreach(fs.delete(_, false))
  }

  // ── the rewriter lock ───────────────────────────────────────────

  /** CREATE-EXCLUSIVE of a marker file — the arbitration primitive
    * under every claim and lock. On HDFS the namenode arbitrates
    * `create(overwrite = false)`. On the LOCAL filesystem Hadoop's
    * RawLocalFileSystem implements that flag as exists()-then-create —
    * a TOCTOU window — so `file:` paths go through java.nio
    * `Files.createFile`, a real O_EXCL open. Object stores without
    * atomic create-exclusive need a fronting layer (same caveat as the
    * manifest rename). Throws the filesystem's already-exists/IO
    * exception on a lost race — callers classify. */
  def createExclusive(fs: FileSystem, marker: Path): Unit =
    if (fs.getScheme == "file") {
      val p = Path.getPathWithoutSchemeAndAuthority(fs.makeQualified(marker))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toString))
      ()
    } else fs.create(marker, false).close()

  /** Is some rewriter holding the lock right now? Advisory only. */
  def rewriterActive(fs: FileSystem, path: String): Boolean =
    fs.exists(lock(path))

  def lockHeld(op: String, path: String,
      cause: Throwable): graft.ops.LockHeldException =
    new graft.ops.LockHeldException(
      s"$op: another rewriter holds ${lock(path)} — if its process " +
        "crashed, delete the lock file and retry", cause)

  /** Run `body` under the exclusive rewriter lock. One lock serves
    * every rewrite-class op (compact, merge, erase, vacuum, schema
    * evolution, the change record's commit): they all rewrite or delete
    * referenced files, so any two racing would double-carry or read a
    * half-replaced base. When another rewriter holds it, `onLost` runs
    * (dropping the caller's orphaned rewrites) and
    * [[graft.ops.LockHeldException]] is thrown. The lock is always
    * released after `body`. */
  def withRewriterLock[T](fs: FileSystem, path: String, op: String,
      onLost: () => Unit = () => ())(body: => T): T = {
    try createExclusive(fs, lock(path)) catch {
      case e: java.io.IOException => onLost(); throw lockHeld(op, path, e)
    }
    try body finally fs.delete(lock(path), false)
  }
}
