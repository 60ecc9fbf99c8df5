package graft.table

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit protocol of a snapshot sink, on a `FileSystem` and a
  * sink path (no Spark job): manifest entries and their line codec,
  * version claims, publish and repoint, lineage and rewrite
  * generations, and the optimistic loop rewriters commit through. */
private[graft] object Protocol {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ── manifest entries ────────────────────────────────────────────

  /** One manifest line: a data dir plus the DELETION VECTORS applied
    * to it (merge-on-read tombstone dirs — parquet dirs of the dead
    * rows' key columns, anti-joined at read). `dvs` is kept SORTED so
    * two entries compare structurally: staleness checks ("is the base
    * I read still the live content?") must see a dv added to a dir as
    * a content change even though the dir name is unchanged.
    * Line format: `dir` (the pre-MoR format, unchanged on disk for
    * every dv-less sink) or `dir\tdv1,dv2`. */
  final case class SnapEntry(dir: String, dvs: Seq[String]) {
    def line: String =
      if (dvs.isEmpty) dir else s"$dir\t${dvs.mkString(",")}"
    /** Every dir the entry references, its dvs included. */
    def names: Seq[String] = dir +: dvs
  }

  def parseEntry(line: String): SnapEntry = {
    val a = line.split("\t", 2)
    if (a.length == 1 || a(1).isEmpty) SnapEntry(a(0), Nil)
    else SnapEntry(a(0), a(1).split(",").toSeq.filter(_.nonEmpty).sorted)
  }

  private def readEntries(fs: FileSystem, p: Path): Seq[SnapEntry] =
    SnapLog.readLines(fs, p).filter(_.nonEmpty).map(parseEntry)

  private def noSnapshot(path: String, version: Int,
      cause: Throwable): IllegalArgumentException =
    new IllegalArgumentException(
      s"requirement failed: no snapshot v$version at $path", cause)

  /** The entries of published version `version`, in one open. */
  def manifestEntries(fs: FileSystem, path: String,
      version: Int): Seq[SnapEntry] =
    try readEntries(fs, SnapLog.manifest(path, version))
    catch { case e: FileNotFoundException => throw noSnapshot(path, version, e) }

  def manifestDirs(fs: FileSystem, path: String, version: Int): Seq[String] =
    manifestEntries(fs, path, version).map(_.dir)

  /** Is version `v` published (does its manifest exist)? */
  def isPublished(fs: FileSystem, path: String, v: Int): Boolean =
    fs.exists(SnapLog.manifest(path, v))

  /** Per-manifest-FILE dv maps, keyed by (path, name:mtime:len):
    * manifest files are immutable between repoints, so each file's dv
    * map is computed once — a publish on a deep-history MoR sink opens
    * only the manifests it has not seen (steady state: the one the
    * previous publish wrote), not the whole chain per publish. */
  private val manifestDvCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String),
        Map[String, Seq[String]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String),
            Map[String, Seq[String]]]): Boolean = size > 1024
    })

  /** dir name → the UNION of its dv sets across every published
    * manifest. Reconciles and carry paths republish manifests from dir
    * NAMES; reattaching the union keeps every published delete applied
    * (dv files are immutable and per-dir, so union is monotone-safe:
    * an extra dv on a dir can only remove rows its own merge already
    * deleted there — same "deletes are never resurrected" rule the
    * carry semantics document). Empty map for dv-less sinks. */
  def dvUnionFor(fs: FileSystem, path: String): Map[String, Seq[String]] = {
    // The `mor.on` marker: this sink has (ever) used merge-on-read. One
    // exists-call lets every publish on the common dv-less sink skip
    // the all-manifests scan.
    if (!fs.exists(SnapLog.morMarker(path))) return Map.empty
    val perFile = SnapLog.list(fs, path).manifests.flatMap { case (st, _) =>
      val n = st.getPath.getName
      val key = (path, s"$n:${st.getModificationTime}:${st.getLen}")
      val hit = manifestDvCache.get(key)
      if (hit != null) Some(hit)
      else try {
        val m = readEntries(fs, st.getPath)
          .filter(_.dvs.nonEmpty)
          .groupBy(_.dir)
          .map { case (d, es) => d -> es.flatMap(_.dvs).distinct.sorted }
        manifestDvCache.put(key, m)
        Some(m)
      } catch {
        // ONLY a vanished file is skippable (expiry deleted a listed
        // manifest under us — its dirs are dead history). Any OTHER
        // failure must propagate and fail the publish: swallowing a
        // transient read error here would publish carried dirs
        // STRIPPED of their dv annotations — the resurrect-deletes
        // failure class the mor.on marker is load-bearing against.
        case _: FileNotFoundException => None
      }
    }
    perFile.flatten.groupBy(_._1)
      .map { case (d, kvs) =>
        d -> kvs.flatMap(_._2).distinct.sorted }
  }

  // ── publish and repoint ─────────────────────────────────────────

  private def text(entries: Seq[SnapEntry]): String =
    entries.map(_.line).mkString("\n")

  /** Publish `entries` as version `version` (claimed by the caller). */
  def publish(fs: FileSystem, path: String, version: Int,
      entries: Seq[SnapEntry]): Unit = {
    fs.mkdirs(SnapLog.snapDir(path))
    // rename is the atomic-publish step; a false return (destination
    // exists, permission lost, or an object store whose "rename" is a
    // non-atomic copy that failed) would otherwise let writeSnapshot
    // report a version whose manifest never appeared — readers of that
    // version would then fail despite a "successful" write. Throw
    // instead: the tmp file and batch dir are orphans the next
    // successful publish ignores. (On object stores without atomic
    // rename — S3 — front this sink with an HDFS/consistent-rename
    // layer or swap publish for a conditional PUT.)
    if (!SnapLog.install(fs, SnapLog.manifest(path, version), text(entries),
        replace = false))
      throw new java.io.IOException(
        s"publishManifest: atomic rename to " +
          s"${SnapLog.manifest(path, version).getName} failed at $path — " +
          "snapshot NOT published (manifest tmp left for inspection)")
    // Publish timestamp sidecar for AS-OF time travel. Best-effort and
    // written AFTER the rename: a crash in between leaves a published
    // version without a .meta, which [[publishedAtMs]] answers with the
    // manifest file's modification time (close enough for a resolver
    // whose contract is "latest version published at or before ts").
    // The sidecar — not mtime — is the primary source because in-place
    // manifest repoints (eraseKeys) refresh mtime but preserve .meta.
    try SnapLog.writeText(fs, SnapLog.publishStamp(path, version),
      System.currentTimeMillis().toString)
    catch { case scala.util.control.NonFatal(e) =>
      log.warn(s"graft: publish stamp of v$version at $path not written " +
        s"(as-of reads fall back to the manifest's mtime): $e")
    }
    // The claim marker has served its purpose once the manifest exists;
    // best-effort cleanup (an orphaned marker is harmless — claimVersion
    // skips past it).
    fs.delete(SnapLog.claim(path, version), false)
  }

  /** Name-based publish: each carried dir REATTACHES the union of its
    * published dv sets ([[dvUnionFor]] — one exists-call on dv-less
    * sinks), so reconcile/carry paths that reason in dir names never
    * drop a merge-on-read delete; dirs new to every manifest (fresh
    * batches, rewrites — which FOLD their base's dvs physically) get
    * none. Publishers attaching a BRAND-NEW dv use the entries form. */
  def publishDirs(fs: FileSystem, path: String, version: Int,
      dirs: Seq[String]): Unit = {
    val dvs = dvUnionFor(fs, path)
    publish(fs, path, version, dirs.map(d => SnapEntry(d, dvs.getOrElse(d, Nil))))
  }

  /** Erasure's in-place repoint: rewrite every version in `versions`
    * that references a `renames` key, in place (delete, then rename, so
    * the window between reads as "no version"); true when any did.
    * Entry-aware: a dir AND its dv references repoint together (a dv
    * rewritten minus the doomed keys keeps applying to every version
    * that listed it). */
  def repoint(fs: FileSystem, path: String,
      versions: Seq[(Int, Seq[SnapEntry])],
      renames: Map[String, String]): Boolean = {
    val hit = versions.filter(_._2.exists(_.names.exists(renames.contains)))
    hit.foreach { case (v, entries) =>
      val moved = entries.map(e => SnapEntry(renames.getOrElse(e.dir, e.dir),
        e.dvs.map(n => renames.getOrElse(n, n)).sorted))
      if (!SnapLog.install(fs, SnapLog.manifest(path, v), text(moved),
          replace = true))
        throw new java.io.IOException(
          s"eraseKeys: manifest repoint failed for v$v at $path — " +
            "restore from the rewritten dirs before serving reads")
    }
    hit.nonEmpty
  }

  /** Wall-clock publish time (epoch millis) of snapshot `version`: the
    * `v<N>.meta` sidecar stamped at publish, or the manifest file's
    * modification time for pre-.meta sinks. */
  def publishedAtMs(fs: FileSystem, path: String, version: Int): Long =
    try SnapLog.readText(fs, SnapLog.publishStamp(path, version)).trim.toLong
    catch { case _: FileNotFoundException =>
      try fs.getFileStatus(SnapLog.manifest(path, version)).getModificationTime
      catch { case e: FileNotFoundException => throw noSnapshot(path, version, e) }
    }

  // ── claims ──────────────────────────────────────────────────────

  /** Claim version number `latest+1` by CREATE-EXCLUSIVE of a
    * `v<N>.claim` marker: the optimistic-concurrency step that stops
    * two writers publishing the same version number. On collision the
    * loser re-reads the latest version (published OR claimed) and
    * claims the next slot — so two writers racing for v2 publish v2
    * and v3, never v2 twice. A crashed claimant leaves an orphaned
    * claim file; its version number is simply skipped (version numbers
    * are dense only absent crashes — `latestVersion` counts published
    * manifests, so readers never see the hole), and [[sweep]] removes
    * claims the protocol has provably passed. */
  def claimVersion(fs: FileSystem, path: String): Int = {
    fs.mkdirs(SnapLog.snapDir(path))
    var attempts = 0
    while (attempts < 1000) {
      // One listing answers both: the latest version, published OR
      // claimed.
      val log = SnapLog.list(fs, path)
      val target = math.max(log.latest, log.claims.foldLeft(0)(math.max)) + 1
      val marker = SnapLog.claim(path, target)
      try {
        SnapLog.createExclusive(fs, marker)
        return target
      } catch {
        // Only a LOST RACE retries. java.nio and Hadoop each signal it
        // with their own FileAlreadyExistsException; some HDFS paths
        // surface it as a bare IOException, distinguishable by the
        // marker now existing. Anything else (permission denied,
        // connectivity) is a real failure — rethrowing immediately
        // beats spinning 1000 list+create loops into a misleading
        // "writer storm" report.
        case _: java.nio.file.FileAlreadyExistsException => attempts += 1
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => attempts += 1
        case e: java.io.IOException =>
          if (fs.exists(marker)) attempts += 1 else throw e
      }
    }
    throw new IllegalStateException(
      s"claimVersion: could not claim a snapshot version at $path after " +
        "1000 attempts — writer storm or a filesystem refusing exclusive create")
  }

  /** Mark claim `v` SPENT: its owner will never publish that version
    * (an erase epoch is only a name source). The marker stays — it
    * keeps the number unique — but turns non-empty, which
    * [[awaitAppenders]] reads as "no appender behind this claim" (an
    * appender's claim stays empty until its publish deletes it). */
  def retireClaim(fs: FileSystem, path: String, v: Int): Unit =
    SnapLog.writeText(fs, SnapLog.claim(path, v), "spent")

  /** Wait up to 5 s while a fresh (under a minute old), unspent claim
    * exists — an appender that may still publish. Stale claims are
    * crashed writers and spent claims are erase epochs; neither blocks.
    * Malformed claim names (operator debris) are skipped by the
    * listing's filter: a throw here would land mid-erase, after the
    * repoints and before the original deletes. */
  def awaitAppenders(fs: FileSystem, path: String): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def inFlight = {
      val now = System.currentTimeMillis()
      SnapLog.list(fs, path).claimStatuses.exists(st =>
        st.getLen == 0 && now - st.getModificationTime < 60000)
    }
    while (System.currentTimeMillis() < deadline && inFlight) Thread.sleep(100)
  }

  /** Drop, from an expiry's one listing, the claims at or below the
    * latest version (provably dead: claims target past every published
    * and claimed number) and the generation markers below `keepFrom`. */
  def sweep(fs: FileSystem, path: String, log: SnapLog.Listing,
      keepFrom: Int): Unit = {
    log.claims.filter(_ <= log.latest)
      .foreach(v => fs.delete(SnapLog.claim(path, v), false))
    // Rewrite-generation markers older than the horizon: without a
    // sweep they accumulate one tiny file per merge/erase/heal forever
    // (listed by every rewriteGen call — worst exactly on object
    // stores where small-file listings cost). Sweeping changes the
    // fingerprint, so the NEXT aggregate refresh recomputes once —
    // the correct price inside an op that just destroyed history.
    log.rewriteGens.filter(_ < keepFrom)
      .foreach(v => fs.delete(SnapLog.rewriteGenMarker(path, v), false))
    // Erase markers age out the same way; the changed [[eraseGen]]
    // fingerprint forces feed consumers to recompute once — the
    // correct price inside an op that just destroyed history.
    log.eraseGens.filter(_ < keepFrom)
      .foreach(v => fs.delete(SnapLog.eraseGenMarker(path, v), false))
  }

  // ── provenance ──────────────────────────────────────────────────
  // Manifests are dir-name lists, but concurrency reasoning needs ROW
  // provenance: which original batches a dir's rows descend from.
  //   batch-N            → root batch-N (itself)
  //   batch-N-r<k>       → root batch-N (a conflict-resolved REWRITE of
  //                        batch-N's fresh rows, see reconcileLineage)
  //   compact-N          → the roots it absorbed, recorded at compaction
  //                        time in `_snapshots/compact-N.absorbed` (one
  //                        root per line; the CLOSURE, so reading it
  //                        never recurses)
  // coverage(dirs) = union of provenance — "whose contributions does
  // this lineage already carry". Reconciliation and the compaction
  // carry diff COVERAGE, never dir names: a dir absorbed by a later
  // compaction is still reachable, and a compacted base can never be
  // re-included alongside its own compact dir (the r14 double-read
  // hazards).

  def rootOf(dirName: String): String =
    dirName.replaceFirst("-r\\d+$", "")

  /** The version number of a dir's LAST rewrite suffix (`-r<v>` heal,
    * `-m<v>` merge, `-e<v>` erasure), 0 for a pristine dir. Rewrite
    * versions come from [[claimVersion]] so they are unique and
    * strictly increase over time, and every rewrite reads the dir's
    * THEN-CURRENT form — so among same-root, equal-provenance siblings
    * (e.g. `batch-1-r5` vs `batch-1-r7` from two heal rounds whose
    * intermediate manifests a crossed publish dropped), the HIGHER
    * suffix is the newer line of truth: it already carries every yield/
    * erase the lower one does. */
  def rewriteSeq(dirName: String): Int =
    "-[rme](\\d+)$".r.findFirstMatchIn(dirName)
      .map(_.group(1).toInt).getOrElse(0)

  /** The ORIGINAL root a dir's name descends from, stripping EVERY
    * trailing rewrite suffix, stacked included (`batch-1-m5-r7` →
    * `batch-1`). [[rootOf]] strips only a final `-r` (it exists to
    * derive name-based provenance and `-m`/`-e` rewrites carry explicit
    * `.absorbed` records instead); FAMILY identity — "are these two
    * dirs rewrites of the same line of truth?" — needs the full strip,
    * or a heal rewrite (`batch-1-r3`) and a merge rewrite
    * (`batch-1-m5`) of one root pass as unrelated and ride the same
    * manifest together, publishing their shared keys twice. */
  def familyRoot(dirName: String): String = {
    var d = dirName
    var prev = ""
    while (d != prev) { prev = d; d = d.replaceFirst("-[rme]\\d+$", "") }
    d
  }

  /** Record `dirName`'s provenance explicitly: the roots whose rows it
    * holds (a rewrite or compact dir's name does not parse to them). */
  def writeAbsorbed(fs: FileSystem, path: String, dirName: String,
      roots: Set[String]): Unit =
    SnapLog.writeText(fs, SnapLog.absorbed(path, dirName),
      roots.toSeq.sorted.mkString("\n"))

  def provenance(fs: FileSystem, path: String,
      dirName: String): Set[String] =
    // Any dir may carry an explicit absorbed record (compact dirs
    // always do; merge rewrites do too — their names don't parse to a
    // root). A compact dir WITHOUT one (pre-provenance sinks) is its
    // own opaque root — conservative: it can satisfy no other dir's
    // reachability and is never skipped from a carry.
    SnapLog.readLinesIfExists(fs, SnapLog.absorbed(path, dirName))
      .map(_.filter(_.nonEmpty).toSet)
      .getOrElse(
        if (dirName.startsWith("compact-")) Set(dirName)
        else Set(rootOf(dirName)))

  def coverage(fs: FileSystem, path: String, dirs: Seq[String]): Set[String] =
    dirs.iterator.flatMap(d => provenance(fs, path, d)).toSet

  /** What a post-publish reconcile reads each round, from one listing
    * of the log: the latest version's dirs and their coverage, and the
    * dirs of every version published in `(baseVersion, latest)`
    * whose dirs the latest coverage has DROPPED (the latest version's
    * own dirs are covered by definition). Coverage is monotone by
    * design (compaction absorbs, rewrites keep roots, erasure repoints
    * every manifest), so a non-empty `dropped` means a CROSSED publish:
    * a writer chained its manifest from a base that predates another
    * writer's already-published version — the other side of the TOCTOU
    * the reconciles exist for. Both writers can pass a naive "am I
    * latest / am I reachable" check in that interleaving (each was
    * latest for a moment), so every reconcile must ALSO sweep its own
    * window for dropped thirds and carry them forward.
    *
    * `dropped` holds every dir of a DROPPED VERSION — the full manifest
    * of any window version holding an uncovered dir, not just the
    * uncovered dirs themselves. A dropped version is internally
    * consistent (a merge publishes its rewrites NEXT TO its merge dir);
    * cherry-picking only its uncovered dirs can pair a merge dir with
    * the PRE-merge original from the latest chain, resurrecting deleted
    * keys. The caller collapses the union with [[collapseShadows]]. */
  final case class Window(dirs: Seq[String], coverage: Set[String],
      dropped: Seq[String])

  def window(fs: FileSystem, path: String, baseVersion: Int): Window = {
    val log = SnapLog.list(fs, path)
    val latest = log.latest
    val dirs = manifestDirs(fs, path, latest)
    val cov = coverage(fs, path, dirs)
    val dropped = log.versions.filter(v => v > baseVersion && v < latest)
      .sorted
      .map(v => manifestDirs(fs, path, v))
      .filter(_.exists(d => !provenance(fs, path, d).subsetOf(cov)))
      .flatten.distinct
    Window(dirs, cov, dropped)
  }

  /** Collapse a carry set to one dir per line of truth: an original is
    * SHADOWED by its own rewrite (`<dir>-r/m/e...` — name-prefixed,
    * same root, strictly newer row truth: rewrites only ever yield or
    * erase rows) and an absorbed dir is shadowed by a dir whose
    * provenance strictly contains it (compaction) or by a compact dir
    * with equal provenance (single-batch compaction). Publishing an
    * original NEXT TO its rewrite would resurrect every yielded/erased
    * key — the carry paths must never do it. */
  def collapseShadows(fs: FileSystem, path: String,
      dirs: Seq[String]): Seq[String] = {
    val distinct = dirs.distinct
    val prov = distinct.map(d => d -> provenance(fs, path, d)).toMap
    distinct.filterNot { d =>
      distinct.exists { e =>
        e != d && prov(d).subsetOf(prov(e)) && (
          prov(e) != prov(d) ||               // strict superset: absorbed
          e.startsWith(d + "-") ||            // my own rewrite
          (e.startsWith("compact-") && !d.startsWith("compact-")) ||
          // SIBLING rewrites of one FAMILY root (batch-1-r5 vs
          // batch-1-r7, or batch-1-r3 vs batch-1-m5: equal provenance,
          // neither name-prefixes the other — two rewrite lines
          // re-attached by a dropped-manifest carry). The higher
          // claim-version suffix is the newer truth ([[rewriteSeq]] —
          // every rewrite reads the then-current form); keeping both
          // would publish the same keys twice and resurrect rows the
          // newer rewrite yielded or deleted.
          (familyRoot(e) == familyRoot(d) && rewriteSeq(e) > rewriteSeq(d)))
      }
    }
  }

  // ── rewrite generations ─────────────────────────────────────────
  // Content-CHANGING rewrites (merge U/D, erasure, a reconcile heal
  // that yields keys) are invisible to name-based delta reasoning once
  // a later compaction absorbs the renamed dirs — so each one drops a
  // `gen-<version>.touch` marker (version from claimVersion → unique,
  // race-free without a counter file). Incremental consumers
  // (`refreshAggregate`) record the generation fingerprint they saw;
  // a changed fingerprint means counted rows were mutated and the only
  // safe refresh is a recompute. Compaction does NOT touch a marker:
  // it is content-preserving by construction.

  /** NOT best-effort: this marker is the sole signal that routes
    * incremental consumers to a recompute after a content rewrite — a
    * swallowed failure here lets the next refresh double-count the
    * rewritten rows (or retain an erased subject's sums) silently.
    * Failing the whole op is the cheap, honest outcome: the caller
    * retries and no reader ever saw a lie. */
  def touchRewriteGen(fs: FileSystem, path: String, version: Int): Unit =
    SnapLog.writeText(fs, SnapLog.rewriteGenMarker(path, version), "")

  /** Erasure's own marker ([[eraseGen]]), not best-effort either: a
    * swallowed failure lets a feed consumer retain the erased sums. */
  def touchEraseGen(fs: FileSystem, path: String, epoch: Int): Unit =
    SnapLog.writeText(fs, SnapLog.eraseGenMarker(path, epoch), "")

  /** (count, max version) of one kind of generation marker — the ONE
    * fingerprint body behind [[rewriteGen]] and [[eraseGen]]: markers
    * are only ever added with unique versions, so any new marker
    * changes the pair. */
  private def genFingerprint(fs: FileSystem, path: String,
      gens: SnapLog.Listing => Seq[Int]): String =
    SnapLog.listIfSink(fs, path).map(gens) match {
      case Some(vs) => s"${vs.size}:${vs.foldLeft(0)(math.max)}"
      case None => "0:0"
    }

  /** Fingerprint of the content-rewrite history (merge/heal/erase). */
  def rewriteGen(fs: FileSystem, path: String): String =
    genFingerprint(fs, path, _.rewriteGens)

  /** Fingerprint of the IN-PLACE history edits only — `erase-*.touch`
    * markers stamped by `eraseKeys` commits. The change feed is exact
    * across merges/compactions/heals (they publish NEW versions and
    * never alter an existing manifest's content), so a feed-driven
    * consumer must NOT recompute on every merge the way name-based
    * delta readers do ([[rewriteGen]]); erasure is the one op that
    * rewrites BOTH of a span's endpoints in place — the erased rows
    * vanish from both sides and the diff can never emit their deletes.
    * This narrower fingerprint is what feed consumers pin. */
  def eraseGen(fs: FileSystem, path: String): String =
    genFingerprint(fs, path, _.eraseGens)

  // ── the optimistic rewrite loop ─────────────────────────────────

  /** The version to publish at once the latest version is `latest`:
    * strictly above it (readers take the max version as current), so a
    * writer that published past the rewriter's pre-rewrite claim
    * `claimed` forces a re-claim. */
  def claimAbove(fs: FileSystem, path: String, claimed: Int,
      latest: Int): Int =
    if (latest >= claimed) claimVersion(fs, path) else claimed

  /** Run a rewriter's `attempt` until it commits (`Some`); the fifth
    * stale base (`None`) throws `IllegalStateException(storm)`. Each
    * attempt starts with an advisory fail-fast (the protection is
    * [[commitOver]]'s check): a rewriter holding the lock RIGHT NOW is
    * about to invalidate the base, so don't burn a rewrite on it —
    * streaming CDC callers classify the typed throw and retry. */
  def attempts[T](fs: FileSystem, path: String, op: String,
      storm: String)(attempt: => Option[T]): T = {
    var n = 0
    while (n < 5) {
      if (SnapLog.rewriterActive(fs, path))
        throw SnapLog.lockHeld(op, path, null)
      attempt match {
        case Some(r) => return r
        case None => n += 1
      }
    }
    throw new IllegalStateException(storm)
  }

  /** The locked half of a rewrite staged LOCK-FREE from `base`: under
    * the lock, every `base` ENTRY must still be listed in the latest
    * manifest — dirs are immutable and rewriters replace the entries
    * they touch, so this holds iff the content the rewrite read is
    * still live (a racing merge-on-read dv renames nothing). Then
    * `publish(latest, entries)` runs under the lock; a stale base drops
    * the `orphans` and is None, a lost lock drops them and throws. */
  def commitOver[T](fs: FileSystem, path: String, op: String,
      base: Seq[SnapEntry], orphans: () => Unit)(
      publish: (Int, Seq[SnapEntry]) => T): Option[T] = {
    val r = SnapLog.withRewriterLock(fs, path, op, orphans) {
      val latest = SnapLog.list(fs, path).latest
      val entries = manifestEntries(fs, path, latest)
      if (base.forall(entries.contains)) Some(publish(latest, entries))
      else None
    }
    if (r.isEmpty) orphans()
    r
  }
}
