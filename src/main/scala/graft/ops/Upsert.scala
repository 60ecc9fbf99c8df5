package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.table.{KeyDomain, Protocol, Sidecars, SnapLog}
import graft.table.Protocol.{SnapEntry, familyRoot, rewriteSeq, rootOf}
import graft.table.KeyDomain.Ranges

/** Thrown when a rewriter op (compaction, merge, erasure, vacuum) finds
  * the exclusive `_snapshots/compact.lock` already held. A TYPED class
  * (extending IllegalStateException for source compatibility with
  * callers matching the old message) so retry loops — the streaming CDC
  * sink above all — can classify a lock collision structurally instead
  * of grepping exception text, which silently turns fatal the day the
  * message is reworded. */
final class LockHeldException(msg: String, cause: Throwable)
  extends IllegalStateException(msg, cause)

/** Thrown when [[Upsert.writeSnapshotGated]]'s drift gate refuses a
  * publish. TYPED (extending IllegalStateException with the same
  * message prefix for source compatibility) so dead-letter routing —
  * the gated streaming sink's quarantine above all — classifies a
  * refusal structurally instead of matching exception text, which
  * silently turns a quarantine into stream death the day the message
  * is reworded. */
final class DriftRefusedException(msg: String)
  extends IllegalStateException(msg)

/** Idempotent-append ("upsert") semantics of the reference's sink
  * (SURVEY.md §2.9; ref `etl.py:182-191, 331-341, 438-449`).
  *
  * The reference's `INSERT … ON DUPLICATE KEY UPDATE col=col` updates
  * nothing on conflict — it is insert-if-absent / KEEP-EXISTING. With no
  * Delta/Iceberg in the jar set, the Spark-native mapping is:
  * dedup-within-batch + left-anti join against existing + union append.
  */
object Upsert {

  /** slf4j (Spark's own logging backend): a best-effort sidecar that
    * is not written costs readers pruning, so it must not be silent. */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Deterministic within-batch dedup: keep the first row per key under
    * `tieBreak` ordering (row_number, not dropDuplicates, so the surviving
    * row is stable across runs/partitionings — SURVEY.md §7.4 hazard 7). */
  def dedupOnKey(df: DataFrame, keys: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tieBreak.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep-existing upsert: rows of `existing` win; only `incoming` rows whose
    * key is absent from `existing` are appended.
    *
    * Scale posture: the anti-join shuffles both sides on the key (or
    * broadcasts `existing`'s keys if small); at 100 TB the snapshot sink
    * ([[writeSnapshot]]) prunes the anti-join to the dirs the batch's
    * keys can live in. Within-batch dedup and the anti-join share the
    * same key shuffle.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             tieBreak: Seq[String]): DataFrame = {
    val deduped = dedupOnKey(incoming, keys, tieBreak)
    val fresh = deduped.join(existing.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    existing.unionByName(fresh.select(existing.columns.toIndexedSeq.map(col): _*))
  }

  // ───────── snapshot-versioned sink (time travel, table-format lite) ─────────
  //
  // Each write lands its FRESH rows (keep-existing upsert semantics) in a
  // new immutable `batch-N` directory and publishes snapshot manifest
  // `_snapshots/v<N>.list` — a text file whose lines are the data dirs
  // composing that version. Reading version N unions exactly those dirs,
  // so every historical version stays readable FOREVER (time travel) and
  // a version's delta is its own batch dir. The manifest is written
  // tmp-then-rename: readers either see a complete snapshot or none —
  // a crash mid-write leaves at most an orphaned data dir the next
  // successful write ignores (never a torn table). Data dirs are
  // immutable after publish; compaction (`compactSnapshots`) packs
  // them into new dirs and publishes a new version.

  /** Label every Spark job `body` submits (guide §1.5): the UI (and
    * graft.Profile) show which operator phase each of a publish's jobs
    * belongs to. Thread-local and restored on exit, so nested phases
    * stack naturally and callers' own descriptions survive. */
  private def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  private def fsFor(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Latest published snapshot version; 0 for a fresh/empty sink. */
  def latestVersion(spark: SparkSession, path: String): Int =
    SnapLog.listIfSink(fsFor(spark, path), path).map(_.latest).getOrElse(0)

  /** The log's listing; refuses a path that is no sink. */
  private def sinkListing(spark: SparkSession,
      path: String): SnapLog.Listing = {
    val log = SnapLog.listIfSink(fsFor(spark, path), path)
    require(log.isDefined, s"no snapshot sink at $path")
    log.get
  }

  /** The entries of published version `version` ([[Protocol.manifestEntries]]). */
  private[graft] def manifestEntries(spark: SparkSession, path: String,
      version: Int): Seq[SnapEntry] =
    Protocol.manifestEntries(fsFor(spark, path), path, version)

  // ── sink-dir schemas ────────────────────────────────────────────
  // The one owner of "what schema does this sink dir have". Every read
  // of a dir the sink wrote (data, dv, landing and change-record dirs)
  // pins the schema [[dirsSchema]] returns, so no read or write
  // submits Spark's parquet schema-discovery job — a footer scan per
  // read, the bulk of a small read's jobs and driver gap.

  /** Dir schema by (qualified dir path, dir modification time). A data
    * dir is immutable once written (its sidecars live under
    * `_snapshots/`), so one footer read per dir is a permanent fact.
    * The mtime is the dir's identity: a sink deleted and re-created at
    * the same path re-uses dir names (claims restart at v1) but never
    * a dir's write time, so it never hits the dead sink's schema.
    * Access-ordered, capped. */
  private val dirSchemaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long),
        org.apache.spark.sql.types.StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long),
            org.apache.spark.sql.types.StructType]): Boolean =
        size > 4096
    })

  /** The schema a `mergeSchema` read of `dirs` (full paths) infers,
    * from driver metadata: each dir's footer schema (cached), merged
    * with the same `StructType.merge` in the same order — Spark folds
    * footers sorted by file path — so column order and the NULL-fill
    * of dirs lacking a column are exactly the inferring read's (all
    * fields nullable, as every file read exposes them). Dir identities
    * cost one status call, or one listing per parent when a read spans
    * several dirs of it. */
  private def dirsSchema(spark: SparkSession, dirs: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(dirs.nonEmpty, "dirsSchema: no dirs")
    val fs = fsFor(spark, dirs.head)
    val qualified = dirs.distinct.map(d => fs.makeQualified(new Path(d)))
    val statuses: Seq[FileStatus] = qualified.groupBy(_.getParent).toSeq
      .flatMap {
        case (_, Seq(one)) => Seq(fs.getFileStatus(one))
        case (parent, ds) =>
          val byName = fs.listStatus(parent)
            .map(st => st.getPath.getName -> st).toMap
          ds.map(d => byName.getOrElse(d.getName,
            throw new java.io.FileNotFoundException(s"no sink dir $d")))
      }
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    ColumnBridge.asNullable(statuses.sortBy(_.getPath.toString + "/")
      .map { st =>
        val key = (st.getPath.toString, st.getModificationTime)
        val hit = dirSchemaCache.get(key)
        if (hit != null) hit
        else {
          val sc = Sidecars.footerSchema(fs, st.getPath)
          dirSchemaCache.put(key, sc)
          sc
        }
      }
      .reduce(ColumnBridge.mergeSchemas(_, _, caseSensitive)))
  }

  /** Read of sink dirs (full paths) under their pinned schema. */
  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(dirsSchema(spark, dirs)).parquet(dirs: _*)

  /** Read of a pinned-schema dir scan with a dv set applied: the dv
    * dirs' own columns (the merge-time keys) anti-join the scan. The
    * identity for dv-less entries — every pre-MoR path pays nothing. */
  private def antiDv(spark: SparkSession, path: String, df: DataFrame,
      dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) df
    else {
      val dv = readDirs(spark, dvs.map(d => s"$path/$d"))
      df.join(dv, dv.columns.toIndexedSeq, "left_anti")
    }

  /** Union read of manifest entries with deletion vectors applied:
    * one pinned-schema scan per DISTINCT dv set (the dv-less common
    * case is exactly one scan — the pre-MoR plan, unchanged), `prep`
    * applied to each group's dir scan BEFORE the anti join so pushable
    * bounds still reach the parquet footers, groups unioned by name. */
  private def readEntriesRaw(spark: SparkSession, path: String,
      entries: Seq[SnapEntry],
      prep: DataFrame => DataFrame = identity): DataFrame = {
    require(entries.nonEmpty, "readEntriesRaw: no entries")
    entries.groupBy(_.dvs).toSeq.sortBy(_._1.mkString(","))
      .map { case (dvs, es) =>
        antiDv(spark, path,
          prep(readDirs(spark, es.map(e => s"$path/${e.dir}"))), dvs)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ── dir-level key-range stats ────────────────────────────────────
  // Every data dir gets a `_snapshots/<dir>.stats` sidecar at write
  // time: per key column, the min/max of its non-null values. Probing
  // ops (merge's touched-dir scan, erasure's hit scan, point reads)
  // compare the probe keys' range against each dir's recorded range and
  // SKIP dirs that cannot hold a matching key — the difference between
  // "every merge opens every dir of a 100 TB sink" and "a merge opens
  // the handful of dirs its keys can live in". Equi-joins are
  // null-rejecting, so only non-null ranges matter; a dir with no
  // non-null key values can never match and records `none`. Missing
  // sidecars (pre-stats dirs) and unsupported key types degrade to
  // "always probe" — pruning is an optimization, never a correctness
  // gate. Ranges are per-column: disjointness on ANY key column rules
  // out a composite-key match (all columns must match for equality).

  /** The range aggregates over `statCols` of a frame of `schema`: per
    * tagged column its min and max, then the count of rows with every
    * `nnCols` column non-null (the bloom sidecar's sizing input) and
    * the row total — with the (column, tag) pairs they cover. Columns
    * without a [[KeyDomain.tagOf]] tag get no aggregate. */
  private def rangeAggs(schema: org.apache.spark.sql.types.StructType,
      statCols: Seq[String], nnCols: Seq[String])
      : (Seq[(String, String)], Seq[Column]) = {
    val tagged = statCols.flatMap(k =>
      KeyDomain.tagOf(schema(k).dataType).map(k -> _))
    val nnPred = nnCols.map(col(_).isNotNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    (tagged, tagged.flatMap { case (k, _) =>
      Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")) } :+
      count(when(nnPred, lit(1))).as("__nn") :+
      count(lit(1)).as("__rows"))
  }

  /** [[rangeAggs]]' values, read from the row that computed them:
    * (per-column ranges — None per column with no non-null value —,
    * joint non-null count, row total). */
  private def rangeFacts(tagged: Seq[(String, String)],
      row: org.apache.spark.sql.Row): (Ranges, Long, Long) = {
    val ranges = tagged.zipWithIndex.map { case ((k, tag), i) =>
      (k, tag, KeyDomain.rangeOf(row.get(2 * i), row.get(2 * i + 1)))
    }
    (ranges, row.getLong(2 * tagged.size), row.getLong(2 * tagged.size + 1))
  }

  /** [[rangeFacts]] of `df` by ONE narrow aggregate. Count is 0 and the
    * total -1 when no column has a supported stat type (no stats means
    * no bloom either, by contract). `statCols` = keys for probes. */
  private[graft] def keyRangesWithCount(df: DataFrame,
      statCols: Seq[String], nnCols: Seq[String]): (Ranges, Long, Long) = {
    val (tagged, aggs) = rangeAggs(df.schema, statCols, nnCols)
    if (tagged.isEmpty) (Nil, 0L, -1L)
    else rangeFacts(tagged, df.agg(aggs.head, aggs.tail: _*).collect()(0))
  }

  /** Keys-per-dir cap for the bloom sidecar (~1.2 bytes/key at 1%
    * fpp → ≤ ~5 MB). Range stats cover every dir; blooms additionally
    * cover the dirs where point reads actually multiply — the many
    * SMALL trickle dirs whose ranges all overlap under hash-distributed
    * keys. A multi-TB compacted dir gets no bloom (a probe that
    * range-overlaps it reads it — one dir, not a fleet). */
  private val BloomMaxKeys = 4L * 1000 * 1000
  /** Max probe keys a point read will collect for bloom tests — a
    * bounded driver set, same class as the manifest listings. */
  private[graft] val BloomProbeMax = 1024

  /** A best-effort step that failed: logged, never thrown. */
  private def skipped(what: String, e: Throwable): Unit =
    log.warn(s"graft: skipped $what: $e")

  /** How long a dir write waits for its observed facts to arrive from
    * the listener bus before it re-reads the dir instead. */
  private val ObservedWaitMs = 3000L

  /** Write `df` as data dir `<path>/<dirName>` — every data dir the
    * sink writes goes through here — and stamp its [[Sidecars]]. The
    * `.stats` facts ([[rangeAggs]] over the keys and the declared skip
    * columns) ride the WRITE job as a CollectMetrics observation, so no
    * pass re-reads the dir for them; every tagged type is covered,
    * INT96 timestamps included. Small dirs (≤ [[BloomMaxKeys]] non-null
    * keys) also get a `.bloom2` exact-membership sketch over
    * [[KeyDomain.keyCanon]] — range stats cannot prune hash-distributed
    * keys, the bloom can. When the caller knows an UPPER BOUND on the
    * dir's key count (a rewrite is bounded by its parent's rows, a
    * merge landing by the batch's U+I counts, a publish by the batch's
    * keys, a compaction by its packed dirs' rows) and it fits the cap,
    * the bloom rides the same observation: a bound only OVERSIZES the
    * filter, so the zero-false-negative contract holds. An observation
    * that does not arrive costs one `graft.stats` pass over the dir,
    * and a bloom with no bound one `graft.bloom` pass; gated sinks keep
    * their profile pass (a KMV sketch needs the data). Best-effort: a
    * sidecar failure never fails the data write (readers just probe);
    * it logs a WARN naming the dir. */
  private def writeDirWithStats(spark: SparkSession, path: String,
      dirName: String, df: DataFrame, keys: Seq[String],
      keyBound: Option[Long] = None,
      dirProfile: Option[Sidecars.Profile] = None): Unit =
    labeled(spark, s"graft.writeDir $dirName") {
    val fs = fsFor(spark, path)
    // A keyless write (a sink that never recorded its keys) gets no
    // sidecar: nothing prunes by a key it does not have.
    val statCols =
      if (keys.isEmpty || !keys.forall(df.columns.contains)) Nil
      else keys ++ Sidecars.skipCols(fs, path)
        .filter(df.columns.contains).filterNot(keys.contains)
    val (tagged, aggs) = rangeAggs(df.schema, statCols, keys)
    val bloomBound = keyBound.filter(b => tagged.nonEmpty && b > 0 &&
      b <= BloomMaxKeys).map(math.max(_, 64L))
    val observed = aggs ++ bloomBound.map { bound =>
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.internalFn("bloom_filter_agg",
        when(keys.map(col(_).isNotNull).reduce(_ && _),
          KeyDomain.keyCanon(df.schema, keys)), lit(bound),
        lit(org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(bound, 0.01))).as("__bloom")
    }
    val obs = if (tagged.isEmpty) None else Some(
      new org.apache.spark.sql.Observation(
        s"graft_stats_${dirName}_${System.nanoTime()}"))
    obs.fold(df)(df.observe(_, observed.head, observed.tail: _*))
      .write.mode("overwrite").parquet(s"$path/$dirName")
    // Gate profile: best-effort, gated sinks only. When the caller
    // already profiled EXACTLY these rows (writeSnapshotGated sketches
    // its fresh set for the drift diff), the sidecar reuses that
    // sketch — the dir's own re-read pass disappears (guide §2.4);
    // otherwise the KMV sketch reads the new dir as before.
    try {
      if (Sidecars.gateOn(fs, path))
        Sidecars.writeProfile(fs, path, dirName, dirProfile.getOrElse(
          profileSketch(spark.read.schema(df.schema).parquet(s"$path/$dirName"))))
    } catch { case scala.util.control.NonFatal(e) =>
      skipped(s"the profile sidecar of $dirName", e) }
    if (obs.isEmpty) return
    val row = obs.flatMap(org.apache.spark.sql.graftbridge.ColumnBridge
      .observedRow(_, ObservedWaitMs))
    val facts = row.map(rangeFacts(tagged, _)).orElse(
      try Some(labeled(spark, s"graft.stats $dirName")(keyRangesWithCount(
          readDirs(spark, Seq(s"$path/$dirName")), statCols, keys)))
        catch { case scala.util.control.NonFatal(e) =>
          skipped(s"the stats sidecar of $dirName", e); None })
    val preBloom = row.filter(_ => bloomBound.isDefined)
      .flatMap(r => Option(r.getAs[Array[Byte]](aggs.size)))
    // The total line (same facts, zero extra cost) lets
    // [[countSnapshot]] answer COUNT(*) from driver metadata. n == 0:
    // every range line is "none", so stage-1 pruning already drops this
    // dir for ANY probe — no bloom nothing will ever consult. (Empty
    // dirs are routine: idempotent replays, fully-duplicate batches.)
    for ((ranges, n, totalRows) <- facts) try {
      if (Sidecars.writeStats(fs, path, dirName, ranges, totalRows) &&
          n > 0 && n <= BloomMaxKeys)
        Sidecars.writeBloom(fs, path, dirName)(preBloom match {
          // Observed on the write job: the same bloom_filter_agg
          // builder over the same keyCanon, serialized.
          case Some(bytes) => _.write(bytes)
          case None =>
            val dir = readDirs(spark, Seq(s"$path/$dirName"))
            val nn = dir.filter(keys.map(col(_).isNotNull).reduce(_ && _))
            val bf = labeled(spark, s"graft.bloom $dirName")(nn.stat.bloomFilter(
              KeyDomain.keyCanon(dir.schema, keys), math.max(n, 64L), 0.01))
            bf.writeTo(_)
        })
    } catch { case scala.util.control.NonFatal(e) =>
      skipped(s"the sidecars of $dirName", e) }
  }

  /** Audit for [[countSnapshot]]: the dirs whose rows had to be
    * SCANNED (no `__rows` sidecar line) on the last call. Empty ⟺ the
    * count was answered entirely from driver metadata. */
  private[graft] val lastCountScanned =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** COUNT(*) of a snapshot version at DRIVER-METADATA cost: manifest
    * dirs are disjoint row sets (the sink's invariant — keep-existing
    * appends, copy-on-write rewrites), so the version's count is the
    * sum of the per-dir `__rows` sidecar totals stamped at write time.
    * A 100 TB sink answers in O(#dirs) sidecar reads with zero
    * executor work; dirs without the line (older sidecars, foreign
    * dirs) fall back to a per-dir scan-count — correctness never
    * rests on a sidecar. */
  def countSnapshot(spark: SparkSession, path: String,
      version: Int): Long = {
    val fs = fsFor(spark, path)
    val entries = manifestEntries(spark, path, version)
    val scanned = scala.collection.mutable.ArrayBuffer.empty[String]
    val total = entries.map { e =>
      // Merge-on-read entries subtract their dv totals: dv sets on one
      // dir are disjoint BY CONSTRUCTION (each dv's keys were live at
      // its merge — already-dead keys never re-enter a dv), so
      // dir − Σdv is the entry's exact live count. Any missing total
      // (dir or dv) degrades the ENTRY to a resolved scan-count.
      val parts = e.names.map(n => Sidecars.stats(fs, path, n).flatMap(_.rows))
      if (parts.forall(_.isDefined))
        parts.head.get - parts.tail.map(_.get).sum
      else {
        scanned += e.dir
        readEntriesRaw(spark, path, Seq(e)).count()
      }
    }.sum
    lastCountScanned.set(scanned.toSeq)
    total
  }

  /** Audit for [[minMaxSnapshot]]: dirs whose ranges had to be SCANNED
    * (no usable `.stats` line) on the last call. Empty ⟺ answered
    * entirely from driver metadata. */
  private[graft] val lastMinMaxScanned =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** MIN/MAX of a stat-covered column (keys and declared skip columns)
    * at DRIVER-METADATA cost — the [[countSnapshot]] sibling: each
    * dir's `.stats` line already carries the min/max of its non-null
    * values, and min-of-mins / max-of-maxes over disjoint dir sets IS
    * the version's min/max (SQL semantics: NULLs ignored; all-null →
    * (null, null)). Dirs without a usable line fall back to a per-dir
    * aggregate — correctness never rests on a sidecar. Values return
    * in the stats' canonical domain: long for integral columns, epoch
    * day / epoch micros for date/timestamp, raw string for strings. */
  def minMaxSnapshot(spark: SparkSession, path: String, version: Int,
      column: String): (Option[Any], Option[Any]) = {
    // The LOGICAL column resolves through the schema map like every
    // other read surface: retired names refuse loudly, and pre-rename
    // dirs' sidecars (keyed by the then-physical name) answer for the
    // live name via the alias walk — without it, a rename silently
    // excluded every older dir from the bounds.
    require(!droppedCols(spark, path).contains(column),
      s"minMaxSnapshot: '$column' was dropped")
    require(!renamedAwayCols(spark, path).contains(column),
      s"minMaxSnapshot: '$column' was renamed away — use the live name")
    val fs = fsFor(spark, path)
    val aliases = {
      var set = Set(column)
      Sidecars.schemaMap(fs, path).reverse.foreach {
        case ("rename", f, t) if set(t) => set += f
        case _ => ()
      }
      set
    }
    val entries = manifestEntries(spark, path, version)
    var sawLine = false
    val scanned = scala.collection.mutable.ArrayBuffer.empty[SnapEntry]
    // Per-dv bound-touch test: a dv's OWN `.stats` box (stamped at
    // merge time over the dead rows' keys) that cannot contain `bound`
    // proves no deleted row carries that extreme — the dir's recorded
    // bound is still a LIVE row's value. Erasure shrink-rewrites keep
    // the boxes supersets, so "outside the box" stays sound. A dv with
    // no usable line for the column (or a missing sidecar) is
    // conservative: not provably alive.
    def boundAlive(dvLines: Seq[Option[Seq[(String, Option[(Any, Any)])]]],
        tag: String, bound: Any): Boolean =
      dvLines.forall {
        case Some(lines) =>
          lines.nonEmpty && lines.forall {
            case (dvTag, Some((vLo, vHi))) if dvTag == tag =>
              !KeyDomain.overlaps((bound, bound), (vLo, vHi))
            case (dvTag, None) if dvTag == tag => true // empty dv kills nothing
            case _ => false
          }
        case None => false
      }
    val fromStats: Seq[(String, (Any, Any))] = entries.flatMap { e =>
      Sidecars.stats(fs, path, e.dir).map(_.ranges) match {
        // A merge-on-read entry's stats box is a SUPERSET (the extreme
        // row may be dv-dead). The dv boxes decide: bounds no dv can
        // touch answer at metadata cost; a touched bound falls back to
        // the resolved scan. sawLine records the column exists either
        // way.
        case Some(stats) if aliases.exists(stats.contains) &&
            e.dvs.nonEmpty =>
          sawLine = true
          val boxes = aliases.toSeq.flatMap(stats.get).collect {
            case (tag, Some(r)) => (tag, r)
          }
          // ONE sidecar read per dv, tested against both bounds of
          // every alias box (not one read per test — on an object
          // store each read is a GET).
          val dvLines = e.dvs.map(dv => Sidecars.stats(fs, path, dv)
            .map(dvStats => aliases.toSeq.flatMap(dvStats.ranges.get)))
          if (boxes.nonEmpty && boxes.forall { case (tag, (lo, hi)) =>
              boundAlive(dvLines, tag, lo) && boundAlive(dvLines, tag, hi) })
            boxes
          else { scanned += e; Nil }
        case Some(stats) if aliases.exists(stats.contains) =>
          sawLine = true
          // A dir may carry lines for several aliases (physical
          // coexistence around a rename) — all contribute.
          aliases.toSeq.flatMap(stats.get).collect {
            case (tag, Some(r)) => (tag, r)
          }
        case _ =>
          scanned += e // no sidecar, or no line for any alias
          Nil
      }
    }
    lastMinMaxScanned.set(scanned.map(_.dir).toSeq)
    // ONE resolved union read + ONE aggregate over every fallback
    // entry (min over the union == min of per-dir mins) — N sequential
    // per-dir jobs would serialize the documented backfill case.
    val fromScan: Option[(String, (Any, Any))] =
      if (scanned.isEmpty) None
      else {
        val df = applySchemaMap(spark, path,
          readEntriesRaw(spark, path, scanned.toSeq))
        if (!df.columns.contains(column)) {
          // The fallback saw the dirs' real (mapped) schema: if the
          // column exists NOWHERE — neither a stats line nor a mapped
          // physical column — the call is a typo, not an all-NULL
          // column; answering (None, None) would be a silent lie.
          require(sawLine,
            s"minMaxSnapshot: no column '$column' in snapshot " +
              s"v$version at $path")
          None
        } else {
          val tag = KeyDomain.tagOf(df.schema(column).dataType).getOrElse(
            throw new IllegalArgumentException(
              s"minMaxSnapshot: '$column' has no stats-comparable " +
                s"type (${df.schema(column).dataType})"))
          val r = df.agg(min(col(column)), max(col(column))).collect()(0)
          KeyDomain.rangeOf(r.get(0), r.get(1)).map(tag -> _)
        }
      }
    val present = fromStats ++ fromScan.toSeq
    require(present.map(_._1).distinct.size <= 1,
      s"minMaxSnapshot: '$column' has mixed stat types across dirs")
    val hull = present.map(_._2).reduceOption(KeyDomain.hull)
    (hull.map(_._1), hull.map(_._2))
  }

  /** Incremental CHANGE-FEED CONSUMPTION with a durable cursor — the
    * consumer half of the CDC loop ([[snapshotChanges]] is the read,
    * this is the "exactly once per span" bookkeeping every downstream
    * apply job otherwise hand-rolls): `f` receives the I/U/D frame
    * from the cursor's version to the current latest, and the cursor
    * (a tmp+rename-published marker at `cursorPath`) advances only
    * after `f` returns — a crash mid-apply re-delivers the SAME span
    * (at-least-once; I/U/D application is idempotent per span, so
    * consumers that apply by key converge). First call = the CDC
    * "initial snapshot" convention: `f` gets the full current state
    * as I rows. No new versions → `f` is not called. Returns the
    * version the cursor now covers. */
  def consumeChanges(spark: SparkSession, path: String,
      cursorPath: String, keys: Seq[String], opCol: String = "op")(
      f: DataFrame => Unit): Int = {
    // The cursor's OWN filesystem — a local cursor for an object-store
    // table is the natural deployment and must not resolve against
    // the table's scheme ("Wrong FS").
    val cfs = fsFor(spark, cursorPath)
    val latest = latestVersion(spark, path)
    require(latest >= 1, s"no snapshot to consume at $path")
    // Cursor = the HIGHEST `<cursorPath>.v<N>` marker. Publishing is
    // CREATE-new-THEN-delete-old: no crash window can make the cursor
    // vanish (a single-file delete+rename publish could die between
    // the two and silently RESET the consumer to the initial
    // snapshot — and an initial snapshot cannot re-deliver a missed
    // D event, so that reset is permanent divergence, not
    // at-least-once).
    val cpp = new org.apache.hadoop.fs.Path(cursorPath)
    val cursorDir = cpp.getParent
    val cursorName = cpp.getName
    def markers(): Seq[(Int, org.apache.hadoop.fs.Path)] =
      if (cursorDir == null || !cfs.exists(cursorDir)) Nil
      else cfs.listStatus(cursorDir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(cursorName + ".v"))
        .flatMap(p => scala.util.Try(
          p.getName.stripPrefix(cursorName + ".v").toInt).toOption
          .map(_ -> p))
    val covered = markers().map(_._1).maxOption.getOrElse(0)
    // A cursor PAST the sink's latest is never a caught-up consumer —
    // it is the wrong sink, a copied cursor, or rolled-back history;
    // silently returning it would skip every span until the sink
    // happened to pass the stale number.
    require(covered <= latest,
      s"consumeChanges: cursor $cursorPath covers v$covered but the " +
        s"sink's latest is v$latest — wrong sink or rolled-back history")
    if (covered == latest) return covered
    val frame =
      if (covered == 0) {
        val full = readSnapshot(spark, path, latest)
        // Same collision refusal as snapshotChanges (which guards the
        // span path): withColumn would silently clobber a real data
        // column named like the op marker.
        require(!full.columns.contains(opCol),
          s"consumeChanges: the sink already has a column named " +
            s"'$opCol' — pass a different opCol")
        full.withColumn(opCol, lit("I"))
          .select((col(opCol) +: full.columns.toIndexedSeq.map(col)): _*)
      } else snapshotChanges(spark, path, covered, latest, keys, opCol)
    f(frame)
    // Advance AFTER the apply: create the new marker, then sweep the
    // old ones best-effort (max-wins read, so leftovers are harmless).
    if (cursorDir != null) cfs.mkdirs(cursorDir)
    cfs.create(new org.apache.hadoop.fs.Path(cursorDir,
      s"$cursorName.v$latest"), true).close()
    markers().filter(_._1 < latest).foreach { case (_, p) =>
      try cfs.delete(p, false)
      catch { case scala.util.control.NonFatal(e) => skipped(
        s"deleting old consumer cursor $p (the max-wins read ignores it)", e) }
    }
    latest
  }

  /** Test/ops audit: the dir subset the last probe-pruned op actually
    * opened (merge's touched scan, erasure's hit scan, point reads).
    * Written for spec assertions that non-overlapping dirs are never
    * probed; not part of the operator contract. */
  private[graft] val lastProbedDirs =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** Test/ops audit: the dir subset the last merge's KEEP-EXISTING
    * probe (its I rows' presence check) actually opened — merge runs
    * two probes per call (touched-dir scan → [[lastProbedDirs]],
    * present-key scan → here), so they need separate audit slots. */
  private[graft] val lastPresentDirs =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** PUSHABLE bounding-box predicate for a key probe: each supported
    * key column bounded to the probe's [min, max]. Sound as a PRE-JOIN
    * filter on the dir side of any key equi-join/semi/anti probe: a
    * dir row outside the box cannot equal any probe row (equality
    * needs every column inside its bound), and NULL-keyed dir rows —
    * which the filter also drops — can never match a null-rejecting
    * equi-join. The payoff is WHERE the predicate runs: it pushes to
    * the parquet scan (typed literals, no casts around the column), so
    * row groups outside the probe's range are skipped by footer stats
    * — pruning INSIDE dirs the manifest-level stages can't skip, above
    * all the big key-sorted compact dirs (too large for a bloom, range
    * = the whole domain). Columns whose scan-side type disagrees with
    * the probe's stat tag contribute no bound (mixed-type comparison
    * semantics would be unsound); None when nothing is boundable. */
  private def probeRangeFilter(schema: org.apache.spark.sql.types.StructType,
      pr: Ranges): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType}
    val conds = pr.flatMap { case (k, tag, r) =>
      val scanTag = schema.fields.find(_.name == k)
        .flatMap(f => KeyDomain.tagOf(f.dataType))
      if (!scanTag.contains(tag)) None
      else r.map { case (lo, hi) =>
        if (tag == "long") {
          // The probe's values need NOT fit the scan column's integral
          // type (the probe is the caller's frame — a long probe
          // against an int sink is legal): CLAMP the bounds into the
          // column's representable range, so the literal cast below is
          // always lossless. A naive cast would WRAP (or throw under
          // ANSI) and the wrapped box silently drops true matches —
          // lost point-read rows, merge dirs misclassified clean,
          // partial erasure. A probe range wholly outside the column's
          // domain can match nothing: the filter is `false`.
          val (tMin, tMax) = schema(k).dataType match {
            case ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
            case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
            case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
            case _ => (Long.MinValue, Long.MaxValue)
          }
          val loL = lo.asInstanceOf[Long]; val hiL = hi.asInstanceOf[Long]
          if (loL > tMax || hiL < tMin) lit(false)
          else {
            // Literal cast (now provably lossless) keeps the column
            // bare: a long literal against an int attribute would wrap
            // the ATTRIBUTE in a cast and lose parquet pushdown.
            def lc(v: Long) = lit(v).cast(schema(k).dataType)
            col(k) >= lc(math.max(loL, tMin)) &&
              col(k) <= lc(math.min(hiL, tMax))
          }
        } else {
          def toLit(v: Any) = lit(KeyDomain.toExternal(v, schema(k).dataType))
          col(k) >= toLit(lo) && col(k) <= toLit(hi)
        }
      }
    }
    conds.reduceOption(_ && _)
  }

  /** THE dir-prune path: every probing op (merge's touched scan and
    * keep-existing probe, erasure's hit scans, point reads), every
    * bounded read ([[readSnapshotWhere]]) and the DSv2 admission
    * ([[admitDirsFor]]) opens exactly the dirs this keeps.
    *
    * Stage 1, ranges: a dir is dropped when its `.stats` box is
    * disjoint from `pr` on ANY column (every column must match for a
    * composite match). Dirs without a sidecar, and columns it lacks or
    * tags differently, are kept (conservative). A `pr` column with no
    * non-null value matches nothing (equi-joins and bounds are
    * null-rejecting), so no dir is kept.
    *
    * Stage 2, blooms: `canons` maps a NAME-SORTED key-column set to the
    * probe's bloom canons over it ([[KeyDomain.canonRowsOf]]). When it
    * holds the sink's RECORDED keys — the columns the `.bloom2`
    * sidecars hash; a probe on any other set would false-negative real
    * matches — a dir whose bloom holds none of them is dropped: the
    * stage that still prunes HASH-DISTRIBUTED keys, where every dir's
    * range spans the domain. Blooms only ever prune true negatives, so
    * pruning is an optimization, never a correctness gate. Callers
    * publish the result to their audit slot ([[lastProbedDirs]]). */
  private[graft] def pruneDirs(spark: SparkSession, path: String,
      dirs: Seq[String], pr: Ranges,
      canons: Map[Seq[String], Array[String]]): Seq[String] = {
    if (pr.exists(_._3.isEmpty)) return Nil
    val fs = fsFor(spark, path)
    val ranged = if (pr.isEmpty) dirs else dirs.filter(d =>
      Sidecars.stats(fs, path, d).forall(stats => pr.forall {
        case (k, tag, r) => stats.ranges.get(k) match {
          case Some((`tag`, Some(dr))) => KeyDomain.overlaps(r.get, dr)
          case Some((`tag`, None)) => false // the dir holds no value
          case _ => true
        }
      }))
    if (ranged.isEmpty || canons.isEmpty) return ranged
    canons.get(Sidecars.keyCols(fs, path).sorted) match {
      case None => ranged
      case Some(canon) => ranged.filter(d => Sidecars.bloom(fs, path, d)
        .forall(bf => canon.exists(bf.mightContainString)))
    }
  }

  /** Balanced unionByName: a left-deep `reduce(_.unionByName(_))` over
    * one plan per dir builds a nested Union whose analyzer recursion is
    * as deep as the dir count — on a sink with thousands of
    * range-overlapping trickle dirs that traversal can StackOverflow.
    * A balanced tree keeps the depth at log2(n) with the same result. */
  private def balancedUnion(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else {
      val (l, r) = dfs.splitAt(dfs.size / 2)
      balancedUnion(l).unionByName(balancedUnion(r))
    }

  /** Probe-side key frames whose EXACT row count the caller already
    * knows broadcast explicitly below this cap: without their own
    * checkpoint the planner estimates them from the batch checkpoint's
    * size (filters don't shrink basic stats), which can silently flip
    * the semi/anti probes to sort-merge — shuffling the DIR side, the
    * exact cost the probe pruning exists to avoid (guide §3.1: pick
    * the strategy deliberately). ~50 B/key ⇒ ≤ ~50 MB broadcast. */
  private val BroadcastKeysMax = 1000000L
  private def maybeBroadcastKeys(df: DataFrame, cnt: Long): DataFrame =
    if (cnt > 0 && cnt <= BroadcastKeysMax) broadcast(df) else df

  /** ONE bounded job over a key-distinct probe frame: collect up to
    * [[BloomProbeMax]]+1 rows. If they all fit (the trickle-write
    * norm), the probe's RANGES and BLOOM CANONS both derive on the
    * driver from the collected rows — replacing the range aggregate
    * job plus the canon collect job every probing op used to pay. A
    * larger probe falls back to the range aggregate with no canon set,
    * exactly the regime where the bloom stage's own cap skipped it
    * anyway. Canons (keyed as [[pruneDirs]] takes them) are produced
    * only when every key column carries a [[KeyDomain.tagOf]] tag —
    * exotic-typed keys keep the conservative no-bloom path. */
  private def probeFacts(probe: DataFrame, keys: Seq[String])
      : (Ranges, Map[Seq[String], Array[String]], Option[Long]) = {
    val cols = keys.filter(probe.columns.contains)
    val rows = labeled(probe.sparkSession, "graft.probeFacts")(
      probe.limit(BloomProbeMax + 1).collect())
    if (rows.length > BloomProbeMax) {
      // Large probe: the range aggregate also yields the probe's ROW
      // count — an upper bound on its distinct keys, which sizes the
      // observed bloom of the dir the caller is about to write.
      val (pr, _, totalRows) = keyRangesWithCount(probe, cols, cols)
      return (pr, Map.empty,
        if (totalRows >= 0) Some(totalRows) else None)
    }
    val schema = probe.schema
    val pr: Ranges = cols.flatMap { k =>
      KeyDomain.tagOf(schema(k).dataType).map { tag =>
        val idx = schema.fieldIndex(k)
        val vs = rows.iterator.filterNot(_.isNullAt(idx))
          .flatMap(r => KeyDomain.canon(r.get(idx)))
          .collect { case (`tag`, v) => (v, v) }.toSeq
        (k, tag, vs.reduceOption(KeyDomain.hull))
      }
    }
    val canonable = keys.forall(k => probe.columns.contains(k) &&
      KeyDomain.tagOf(schema(k).dataType).isDefined)
    val canons =
      if (!canonable) Map.empty[Seq[String], Array[String]]
      else Map(keys.sorted -> KeyDomain.canonRowsOf(rows, schema, keys))
    (pr, canons, Some(rows.length.toLong))
  }

  /** KEY-SORTED rewrite for compaction outputs: range-partition + sort
    * by the sink's recorded keys, so the compacted dir's parquet
    * footers carry tight, DISJOINT per-file/per-row-group key ranges.
    * A big compact dir is exactly where the sidecar prune stages go
    * blind (range = the whole domain, > bloom cap) — the sort is what
    * lets every later probe's pushed bounding box skip row groups
    * inside it. Cost: one range exchange riding a rewrite that already
    * reads and writes its whole input. Identity when the sink has no
    * recorded keys or a key column is absent. */
  private def keySortedForFooters(df: DataFrame,
      statKeys: Seq[String]): DataFrame =
    if (statKeys.nonEmpty && statKeys.forall(df.columns.contains))
      df.repartitionByRange(statKeys.map(col): _*)
        .sortWithinPartitions(statKeys.map(col): _*)
    else df

  // ── value-column data skipping ──────────────────────────────────
  // Key-range sidecars prune KEY probes; a reader filtering on a
  // non-key column (`n_chars > x`) still opens every dir. Declared
  // SKIP COLUMNS extend each dir's `.stats` sidecar with min/max lines
  // for value columns — same format, same folded writer aggregate
  // (zero extra passes) — and [[readSnapshotWhere]] prunes manifest
  // dirs whose recorded box cannot intersect a predicate's bounds
  // (Delta's dataSkippingNumIndexedCols read path, by declaration
  // instead of first-N). Declaration affects FUTURE dir writes; dirs
  // written before it have no lines for the column and are read
  // (conservative, never wrong). Run a compaction after declaring to
  // backfill the corpus's sidecars in one rewrite.

  /** Declare the value columns whose min/max every FUTURE dir write
    * records for data skipping. Overwrites the previous declaration
    * (the sidecars of already-written dirs are unaffected either way). */
  def declareSkipCols(spark: SparkSession, path: String,
      cols: Seq[String]): Unit =
    Sidecars.declareSkipCols(fsFor(spark, path), path, cols)

  // ── schema-evolution metadata ops ───────────────────────────────
  // The sink tolerates ADDITIVE physical evolution (mergeSchema) but
  // had no DECLARED evolution: a renamed source column silently forked
  // the schema — old dirs under the old name, new dirs under the new,
  // readers seeing both half-NULL. `_snapshots/schema.map` records
  // add/rename ops as ORDERED metadata lines; no data is rewritten:
  //   - reads apply the map (rename = coalesce old into new where both
  //     physical names coexist, then drop the old; add = surface the
  //     column as typed NULL until data carries it);
  //   - writes NORMALIZE incoming batches through the map, so a
  //     producer still emitting the dead name keeps landing in the
  //     live column instead of forking;
  //   - a compaction physically migrates (it reads the mapped view and
  //     writes it), after which the map entries are no-ops.
  // KEY columns are identity and refuse to rename (their physical name
  // is burned into every sidecar, probe and manifest invariant);
  // declared skip columns rename atomically with the map (old dirs'
  // stats lines simply stop pruning — conservative, never wrong).

  /** Names currently DROPPED by the map (a later add/rename-to would
    * re-use the name — refused, see [[dropColumn]]). */
  private def droppedCols(spark: SparkSession, path: String): Set[String] =
    Sidecars.schemaMap(fsFor(spark, path), path)
      .collect { case ("drop", n, _) => n }.toSet

  /** Declare a column added to the sink's LOGICAL schema: reads
    * surface it as a typed NULL until some batch physically carries
    * it. Metadata-only — nothing is rewritten. A DROPPED name cannot
    * be re-used: without column IDs the old physical values would
    * resurrect under the re-added name (or, normalized away, the new
    * column could never carry data) — name re-use needs a new name or
    * a new sink. */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Unit = {
    require(name.nonEmpty, "addColumn: empty name")
    require(!droppedCols(spark, path).contains(name),
      s"addColumn: '$name' was dropped — a dropped name cannot be " +
        "re-used (no column IDs in this format-lite sink: the old " +
        "physical values would resurrect); pick a new name")
    Sidecars.appendSchemaMapLine(fsFor(spark, path), path, "add", name,
      dataType.sql)
  }

  /** Declare a column RENAME as metadata: reads project the old
    * physical name into the new (coalescing where both coexist);
    * writes normalize a batch still using the old name. Refuses to
    * rename a recorded KEY column — keys are the sink's identity, and
    * every sidecar, probe and manifest invariant is keyed to their
    * physical names. Declared skip columns follow the rename. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Unit = {
    require(from != to, "renameColumn: from == to")
    val fs = fsFor(spark, path)
    val keys = Sidecars.keyCols(fs, path)
    require(!keys.contains(from),
      s"renameColumn: '$from' is a key column — keys are the sink's " +
        "identity and cannot rename (create a new sink and backfill)")
    // The TARGET must not collide with anything live: a rename onto a
    // key would shadow the identity column; onto a dropped name it
    // would resurrect old physical values; onto an existing LOGICAL
    // column the coalesce projection would silently merge two
    // unrelated columns, discarding `to`'s NULLs' counterparts —
    // Delta refuses rename-onto-existing for exactly this reason.
    require(!keys.contains(to), s"renameColumn: target '$to' is a key column")
    require(!droppedCols(spark, path).contains(to),
      s"renameColumn: target '$to' was dropped — a dropped name " +
        "cannot be re-used (old physical values would resurrect)")
    val cur = latestVersion(spark, path)
    if (cur >= 1)
      require(!readSnapshot(spark, path, cur).columns.contains(to),
        s"renameColumn: target '$to' already exists in the sink's " +
          "logical schema — renaming onto a live column would silently " +
          "merge two unrelated columns")
    Sidecars.appendSchemaMapLine(fs, path, "rename", from, to)
    val skips = Sidecars.skipCols(fs, path)
    if (skips.contains(from))
      Sidecars.declareSkipCols(fs, path, skips.map(c => if (c == from) to else c))
  }

  /** Declare a column DROPPED from the sink's logical schema: reads
    * project it away at EVERY version (the map is sink-level, like
    * rename); the physical bytes linger until a compaction migrates.
    * The name is then RETIRED — add/rename refuse to re-use it
    * (without column IDs the old physical values would resurrect, or
    * the write normalization would black-hole the re-added column).
    * Refuses keys and declared skip columns (undeclare skipping
    * first — a dropped column must not keep driving dir pruning).
    * Metadata-only. */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit = {
    val fs = fsFor(spark, path)
    require(!Sidecars.keyCols(fs, path).contains(name),
      s"dropColumn: '$name' is a key column — keys are the sink's " +
        "identity and cannot drop")
    require(!Sidecars.skipCols(fs, path).contains(name),
      s"dropColumn: '$name' is a declared skip column — " +
        "declareSkipCols without it first")
    Sidecars.appendSchemaMapLine(fs, path, "drop", name, "-")
  }

  /** The logical view of a physically-read frame: apply the declared
    * evolution ops in order. Idempotent (a physically-migrated dir
    * no-ops every entry). */
  private def applySchemaMap(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    Sidecars.schemaMap(fsFor(spark, path), path).foldLeft(df) {
      case (d, ("add", name, ddl)) =>
        if (d.columns.contains(name)) d
        else d.withColumn(name, lit(null).cast(
          org.apache.spark.sql.types.DataType.fromDDL(ddl)))
      case (d, ("rename", from, to)) =>
        (d.columns.contains(from), d.columns.contains(to)) match {
          case (true, true) =>
            // Both physical names coexist (dirs from before and after
            // the rename): per row at most one side is non-null; a dir
            // carrying both prefers the live name.
            d.withColumn(to, coalesce(col(to), col(from))).drop(from)
          case (true, false) => d.withColumnRenamed(from, to)
          case _ => d
        }
      case (d, ("drop", name, _)) =>
        if (d.columns.contains(name)) d.drop(name) else d
      case (d, _) => d
    }

  /** Write-side normalization: route a batch still using renamed-away
    * column names into the live names, and strip dropped columns so a
    * lagging producer cannot silently re-grow them (prevents the
    * silent fork either way). Adds are not materialized — absence
    * reads as NULL. */
  private def normalizeBatch(spark: SparkSession, path: String,
      batch: DataFrame): DataFrame =
    Sidecars.schemaMap(fsFor(spark, path), path).foldLeft(batch) {
      case (d, ("rename", from, to)) if d.columns.contains(from) &&
          !d.columns.contains(to) => d.withColumnRenamed(from, to)
      case (d, ("drop", name, _)) if d.columns.contains(name) =>
        d.drop(name)
      case (d, _) => d
    }

  /** Renamed-away SOURCE names — using one as a merge key is refused
    * loudly (the physical dirs still carry it, but it is no longer the
    * sink's live identity and the landing rows would fork). */
  private def renamedAwayCols(spark: SparkSession, path: String): Set[String] = {
    val renames = Sidecars.schemaMap(fsFor(spark, path), path)
      .collect { case ("rename", f, t) => (f, t) }
    // A name re-introduced by a later rename chain (a→b then c→a) is
    // live again; walk in order.
    var dead = Set.empty[String]
    renames.foreach { case (f, t) => dead = dead - t + f }
    dead
  }

  /** EMPTY frame in snapshot `version`'s LOGICAL (schema-mapped) shape,
    * at driver-metadata cost ([[dirsSchema]]: cached per-dir footer
    * schemas, no corpus footer scan) — the schema-stability anchor for
    * bounded/pruned reads. */
  private def emptyLogicalFrame(spark: SparkSession, path: String,
      version: Int): DataFrame = {
    val raw = dirsSchema(spark,
      manifestEntries(spark, path, version).map(e => s"$path/${e.dir}"))
    applySchemaMap(spark, path, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], raw))
  }

  /** Snapshot `version`'s LOGICAL (schema-mapped) schema at cached
    * driver-metadata cost — the DSv2 relation's inferSchema. */
  private[graft] def snapshotLogicalSchema(spark: SparkSession,
      path: String, version: Int): org.apache.spark.sql.types.StructType =
    emptyLogicalFrame(spark, path, version).schema

  /** Read snapshot `version` restricted to closed per-column bounds
    * `ranges` (`col -> (lo, hi)`, Scala values: integral, String,
    * Date/LocalDate, Timestamp/Instant) — opening ONLY the dirs whose
    * recorded `.stats` box can intersect the bounds. The value-column
    * twin of [[readSnapshotForKeys]]: on a sink whose dirs separate by
    * a declared skip column (ingest date, score band, tenant), a
    * bounded read opens the matching dirs, not the corpus. Dirs
    * without a recorded range for a bounded column are read
    * (conservative); the surviving scan applies the bounds as a real
    * filter — pushed to parquet with typed literals where the scan
    * type matches, coercing otherwise — so the result is exact
    * whatever the sidecars knew. Publishes the probed subset to
    * [[lastProbedDirs]]. */
  def readSnapshotWhere(spark: SparkSession, path: String, version: Int,
      ranges: Map[String, (Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "readSnapshotWhere: no bounds given")
    readSnapshotWithin(spark, path, version, ranges.map { case (k, (lo, hi)) =>
      (KeyDomain.canon(lo), KeyDomain.canon(hi)) match {
        case (Some((tag, l)), Some((th, h))) if th == tag => k -> ((tag, (l, h)))
        case _ => throw new IllegalArgumentException(
          s"readSnapshotWhere: unsupported/mismatched bound types for " +
            s"'$k': ${lo.getClass.getSimpleName}/${hi.getClass.getSimpleName}")
      }
    })
  }

  /** [[readSnapshotWhere]] over canonical bounds — the DSv2 V1 bridge's
    * entry, whose filter bounds are canonical already. */
  private[graft] def readSnapshotWithin(spark: SparkSession, path: String,
      version: Int, bounds: KeyDomain.Bounds): DataFrame = {
    val pr: Ranges = bounds.toSeq.map { case (k, (tag, r)) => (k, tag, Some(r)) }
    val entries = manifestEntries(spark, path, version)
    val candidates = pruneDirs(spark, path, entries.map(_.dir), pr, Map.empty)
    lastProbedDirs.set(candidates)
    // The FULL snapshot's logical schema (cached driver metadata, not a
    // per-call corpus footer read) anchors both the bound validation
    // and the shape of the result: bounds are legal iff the column
    // exists in the LOGICAL schema — a column physically carried only
    // by pruned dirs still validates (its value is NULL on every
    // surviving row, so the bound correctly drops them), where
    // validating against the pruned subset threw exactly when pruning
    // worked best.
    val full = emptyLogicalFrame(spark, path, version)
    require(bounds.keys.forall(full.columns.contains),
      s"readSnapshotWhere: bounded column(s) absent from the snapshot " +
        s"schema: ${bounds.keys.filterNot(full.columns.contains).mkString(",")}")
    if (candidates.isEmpty) return full
    // Mapped BEFORE the bounds apply, so `bounds` addresses the
    // LOGICAL (post-evolution) column names; a renamed column's bound
    // filters through the coalesce (no pushdown for that column —
    // conservative, still exact).
    val scan0 = applySchemaMap(spark, path, readEntriesRaw(spark, path,
      entries.filter(e => candidates.contains(e.dir))))
    // Bounded columns the candidate subset doesn't physically carry
    // surface as typed NULLs (the full-schema alignment below would add
    // them anyway; the bounds need them present to filter).
    val scan = full.columns.foldLeft(scan0)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(full.schema(c).dataType)))
    // Pushable typed bounds where the scan type agrees with the probe
    // tag; coercing `between` for the rest — exactness never rests on
    // the pushdown.
    val boundable = pr.filter { case (k, tag, _) =>
      scan0.schema.fields.find(_.name == k)
        .flatMap(f => KeyDomain.tagOf(f.dataType)).contains(tag)
    }
    val pushed = probeRangeFilter(scan.schema, boundable)
    val boundedSet = boundable.map(_._1).toSet
    val generic = bounds.toSeq.filterNot(b => boundedSet(b._1))
      .map { case (k, (tag, (lo, hi))) =>
        def toLit(v: Any) = lit(KeyDomain.toExternal(v, KeyDomain.typeOf(tag)))
        col(k) >= toLit(lo) && col(k) <= toLit(hi)
      }
      .reduceOption(_ && _)
    val filtered = (pushed.toSeq ++ generic.toSeq).reduceOption(_ && _)
      .map(scan.filter).getOrElse(scan)
    // SCHEMA STABILITY: order pinned to the full snapshot's logical
    // schema, so the same call never changes shape with its bounds.
    filtered.select(full.columns.toIndexedSeq.map(col): _*)
  }

  // ── DSv2 BATCH-scan support ─────────────────────────────────────
  // The DSv2 relation's Batch path (GraftBatchScan) plans one input
  // partition per parquet file of the ADMITTED dirs — admission reuses
  // the same sidecar machinery as readSnapshotWhere, extended with the
  // runtime In-filters Spark feeds the scan from a broadcast join's
  // build side (SupportsRuntimeFiltering). These helpers expose the
  // pieces the scan needs at driver planning time.

  /** Is snapshot `version` readable by the file-level Batch path?
    * Requires: no declared schema evolution (the Batch reader serves
    * physical file schemas with additive null-fill only — renames/
    * drops/adds need the mapped read) and no deletion vectors (the dv
    * anti-join needs the DataFrame read). Conservative: ineligible
    * snapshots fall back to the V1 bridge, never a wrong answer. */
  private[graft] def batchScanEligible(spark: SparkSession, path: String,
      version: Int): Boolean =
    Sidecars.schemaMap(fsFor(spark, path), path).isEmpty &&
      manifestEntries(spark, path, version).forall(_.dvs.isEmpty)

  /** Persist the sink's key declaration ahead of the first write —
    * the catalog's CREATE TABLE hook, so a later plain INSERT
    * bootstraps keyed without repeating the option. */
  private[graft] def declareKeys(spark: SparkSession, path: String,
      keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "declareKeys: empty key list")
    val fs = fsFor(spark, path)
    fs.mkdirs(SnapLog.snapDir(path))
    Sidecars.recordKeyCols(fs, path, keys)
  }

  /** Dir admission for the DSv2 Batch scan: [[pruneDirs]] over the
    * merged canonical per-column bounds (plan-time filter boxes ∩
    * runtime join-key boxes), its bloom stage probed by a runtime key
    * SET on a single-column recorded key (the bloom canon is
    * composite, so a partial key can't probe it). Both stages admit
    * supersets only — a pruned dir provably holds no matching row —
    * and the join itself re-filters, so admission is never
    * correctness-bearing for the runtime part either. Publishes the
    * admitted set to [[lastProbedDirs]]. */
  private[graft] def admitDirsFor(spark: SparkSession, path: String,
      version: Int, bounds: KeyDomain.Bounds,
      keySets: Map[String, Seq[Any]]): Seq[String] = {
    val canons = keySets.collect { case (k, vs) if vs.nonEmpty &&
        vs.size <= BloomProbeMax && vs.forall(KeyDomain.bloomCanon(_).isDefined) =>
      Seq(k) -> vs.flatMap(KeyDomain.bloomCanon).toArray }
    val admitted = pruneDirs(spark, path,
      manifestEntries(spark, path, version).map(_.dir),
      bounds.toSeq.map { case (k, (tag, r)) => (k, tag, Some(r)) }, canons)
    lastProbedDirs.set(admitted)
    admitted
  }

  /** The parquet data files of `dirs` (driver metadata listing — one
    * RPC per dir, the same class of cost as the manifest read). */
  private[graft] def snapshotDataFiles(spark: SparkSession, path: String,
      dirs: Seq[String]): Seq[String] = {
    val fs = fsFor(spark, path)
    dirs.flatMap(d => Sidecars.dataFiles(fs, new org.apache.hadoop.fs.Path(path, d))
      .map(_.getPath.toString))
  }

  /** Deterministic key-conflict HEALING among CARRIED dirs — closes
    * the crossed-publish residual the r15 design documented as "needs
    * a commit log": when a reconcile's dropped-version sweep
    * re-attaches dirs from BOTH sides of a crossed publish (each
    * writer exited its own reconcile while momentarily latest, so
    * neither resolved against the other), the re-attached dirs can
    * share keys and no writer owns the conflict. The CARRIER resolves
    * it: among self-rooted dirs in the carry, the LOWER claim number
    * wins its keys — claim numbers are unique and totally ordered, so
    * every carrier picks the same winner without any log — and each
    * later dir rewrites to `<root>-r<version>` minus the stolen keys
    * (originals stay; historical versions still time-travel). Only
    * pairs INVOLVING a re-attached root are checked (one semi-join
    * per involved dir against the union of its earlier peers), so the
    * cost is paid only on the rare dropped-carry path. Skipped when
    * the sink never recorded key columns (pre-keys sinks keep the
    * documented verbatim-carry bound). */
  private def resolveCarriedConflicts(spark: SparkSession, path: String,
      union: Seq[String], reattached: Set[String], excludeRoot: String,
      keys: Seq[String], version: Int): Seq[String] = {
    if (keys.isEmpty || reattached.isEmpty) return union
    // Merge-on-read sinks: carried dirs read through their dv union —
    // a dv-dead key must neither force a yield (lost insert) nor ride
    // into a heal rewrite (resurrected delete; the rewrite FOLDS dvs).
    val fs = fsFor(spark, path)
    val dvs = Protocol.dvUnionFor(fs, path)
    def dvRead(d: String) = antiDv(spark, path,
      readDirs(spark, Seq(s"$path/$d")), dvs.getOrElse(d, Nil))
    def selfRooted(d: String) =
      Protocol.provenance(fs, path, d) == Set(familyRoot(d))
    def rootNum(d: String): Long =
      "(\\d+)$".r.findFirstIn(familyRoot(d)).map(_.toLong)
        .getOrElse(Long.MaxValue)
    val newsRoots = reattached.map(familyRoot)
    val ordered = union
      .filter(d => familyRoot(d) != excludeRoot && selfRooted(d))
      .sortBy(rootNum)
    val current = scala.collection.mutable.LinkedHashMap(
      union.map(d => d -> d): _*)
    for (i <- ordered.indices) {
      val b = ordered(i)
      val earlier = ordered.take(i)
      val involved = newsRoots.contains(familyRoot(b)) ||
        earlier.exists(a => newsRoots.contains(familyRoot(a)))
      if (earlier.nonEmpty && involved) {
        val bCur = current(b)
        val bDf = dvRead(bCur)
        if (keys.forall(bDf.columns.contains)) {
          val eKeys = earlier.map(a => dvRead(current(a)))
            .reduce(_.unionByName(_, allowMissingColumns = true))
            .select(keys.map(col): _*).distinct()
          if (!bDf.join(eKeys, keys, "left_semi").isEmpty) {
            // Suffix the CURRENT form so the prefix rule shadows it,
            // and record provenance EXPLICITLY: a heal of a merge/
            // erasure rewrite (batch-1-m5-r12) would name-derive the
            // wrong root (rootOf only strips the final -r).
            val rw = s"${current(b)}-r$version"
            writeDirWithStats(spark, path, rw,
              bDf.join(eKeys, keys, "left_anti"), keys,
              keyBound = Sidecars.stats(fs, path, bCur).flatMap(_.rows))
            Protocol.writeAbsorbed(fs, path, rw, Protocol.provenance(fs, path, b))
            Protocol.touchRewriteGen(fs, path, version)
            current(b) = rw
          }
        }
      }
    }
    union.map(current)
  }

  /** Post-publish LINEAGE reconciliation — the second half of the
    * optimistic protocol. The hazard: W1 claims v2, W2 claims v3, both
    * chain off v1; W2 publishes v3 = [b1, b3] first, W1 then publishes
    * v2 = [b1, b2] — every FUTURE writer chains off v3 (the latest
    * manifest) and batch-2 silently leaves the lineage despite W1's
    * "successful" write. So after publishing, a writer verifies its
    * CONTRIBUTION is reachable from the latest manifest — by COVERAGE
    * (root provenance), not dir name, so a dir absorbed into a later
    * compact-* counts as reachable and is never re-published on top of
    * the compaction that already carries its rows (the r14 duplication
    * hazard). If an interleaved publish orphaned it, the writer
    * re-claims a fresh (higher) version and republishes on top of the
    * latest lineage — converging because claims strictly increase.
    * Each intermediate version stays a readable, self-consistent
    * snapshot.
    *
    * KEY-LEVEL conflict resolution: both racers anti-joined against
    * the version published at THEIR claim time, so the latest lineage
    * may hold keys our batch also claims — appending the dir verbatim
    * would duplicate them. Before republishing, the batch's rows are
    * anti-joined against the FOREIGN dirs of the latest lineage (dirs
    * whose provenance the writer's base chain did not cover); if any
    * key was stolen, the surviving rows land in an immutable REWRITE
    * dir `<root>-r<version>` (the original dir stays untouched — its
    * own published version remains a self-consistent snapshot) and the
    * rewrite is what joins the lineage. Keep-existing therefore holds
    * per KEY under concurrency; which racer "existed first" is decided
    * by reconciliation order, not wall clock. */
  /** Post-publish reconciliation for any SELF-ROOTED dir (a writer's
    * batch dir or a merge's merge dir; compaction has its own variant
    * since a compact dir's provenance never names itself).
    *
    * Loop invariantly: read the latest chain, sweep the window for
    * dropped PUBLISHED versions, and if either our root is off the
    * chain or a dropped version exists, republish the shadow-collapsed
    * union — one dir per line of truth, rewrites over originals
    * ([[Protocol.collapseShadows]]), so a carried merge/rewrite version never
    * rides next to the pre-rewrite original (that would resurrect
    * yielded/deleted keys). Key conflicts resolve deterministically:
    * rival dirs (roots our base never saw) win, OUR dir yields via a
    * `-r<version>` rewrite; and conflicts BETWEEN re-attached dirs
    * (both crossed writers already exited — the r15 residual bound)
    * heal via [[resolveCarriedConflicts]] by claim order, so the
    * format-lite sink gets a total order without a commit log. The
    * only remaining verbatim-carry case is a sink that never recorded
    * its key columns. */
  private[graft] def reconcileLineage(spark: SparkSession, path: String,
      published: Int, dirName: String, keys: Seq[String],
      baseCoverage: Set[String],
      schema: org.apache.spark.sql.types.StructType,
      baseVersion: Int): Int = {
    val fs = fsFor(spark, path)
    var known = baseCoverage + rootOf(dirName)
    var version = published
    var curDir = dirName
    var attempts = 0
    while (attempts < 100) {
      val w = Protocol.window(fs, path, baseVersion)
      val dropped = w.dropped
      if (w.coverage.contains(rootOf(dirName)) && dropped.isEmpty)
        return version
      version = Protocol.claimVersion(fs, path)
      val union0 = Protocol.collapseShadows(fs, path,
        w.dirs ++ dropped ++ Seq(curDir))
      // Crossed-publish healing: re-attached dirs from a dropped
      // version may conflict with EACH OTHER (both writers exited) —
      // the carrier resolves those pairs deterministically by claim
      // order before the key resolution for OUR own dir below.
      val union =
        if (dropped.isEmpty) union0
        else resolveCarriedConflicts(spark, path, union0, dropped.toSet,
          familyRoot(dirName), keys, version)
      // Our own root's current form in the union (a rewrite of ours
      // from an earlier heal — or a later MERGE/ERASURE of our batch —
      // survives the collapse over the original). NEWEST rewrite wins
      // ([[rewriteSeq]]): after collapseShadows at most one same-family
      // dir survives, but if the carry re-attached equal-provenance
      // siblings, picking first-in-sequence could resurrect keys the
      // newer rewrite already yielded or deleted. FAMILY root, not
      // rootOf: a merge rewrite batch-N-m5 of our batch IS our current
      // form and must not be treated as a rival nor ridden next to.
      val sameRoot = union.filter(d => familyRoot(d) == familyRoot(dirName))
      val ownDir = if (sameRoot.isEmpty) curDir
                   else sameRoot.maxBy(rewriteSeq)
      val rivals = union.filter(d => familyRoot(d) != familyRoot(dirName) &&
        Protocol.provenance(fs, path, d).exists(r => !known.contains(r)))
      val nextDir =
        if (rivals.isEmpty) ownDir
        else {
          // Both sides read through their dv unions: a rival's dv-dead
          // key must not steal ours, and a heal rewrite of a dv'd own
          // dir FOLDS the dvs (republishing dead rows under the new
          // name would resurrect them — the rename sheds the entry's
          // dv annotation).
          val dvs = Protocol.dvUnionFor(fs, path)
          val own = antiDv(spark, path,
            spark.read.schema(schema).parquet(s"$path/$ownDir"),
            dvs.getOrElse(ownDir, Nil))
          val rivalKeys = rivals.map(d => antiDv(spark, path,
              spark.read.schema(schema).parquet(s"$path/$d"),
              dvs.getOrElse(d, Nil)))
            .reduce(_.unionByName(_))
            .select(keys.map(col): _*).distinct()
          val stolen = own.join(rivalKeys, keys, "left_semi").count()
          if (stolen == 0) ownDir
          else {
            val rw = s"${rootOf(dirName)}-r$version"
            writeDirWithStats(spark, path, rw,
              own.join(rivalKeys, keys, "left_anti"), keys,
              keyBound = Sidecars.stats(fs, path, ownDir).flatMap(_.rows))
            // The heal yields keys a reader may already have counted —
            // a content-changing rewrite for delta-purity purposes.
            Protocol.touchRewriteGen(fs, path, version)
            rw
          }
        }
      // Accumulate resolved provenance: already-resolved rivals must
      // not be re-read and re-anti-joined on the next iteration.
      known = known ++ rivals.flatMap(d => Protocol.provenance(fs, path, d))
      Protocol.publishDirs(fs, path, version,
        union.filterNot(d => familyRoot(d) == familyRoot(dirName)) :+ nextDir)
      curDir = nextDir
      attempts += 1
    }
    throw new IllegalStateException(
      s"reconcileLineage: $dirName still unreachable from the latest " +
        s"manifest at $path after 100 republishes — writer storm")
  }

  /** The KEEP-EXISTING anti join, probe-pruned: `deduped`'s rows whose
    * key is absent from the snapshot composed of `baseDirs` — reading
    * ONLY the dirs whose range stats (+ bloom, for collectable probes)
    * can overlap the BATCH's keys. This is the write-path twin of
    * [[readSnapshotForKeys]]: on a compacted 100 TB sink a trickle
    * append anti-joins against the handful of dirs its keys can live
    * in, not the corpus — the batch, not the sink, sets the cost of a
    * write. Sound because a dir that cannot contain any batch key
    * contributes nothing to the anti join's right side; null-keyed
    * batch rows are always fresh on both the pruned and unpruned path
    * (equi-joins are null-rejecting). Publishes the probed subset to
    * [[lastProbedDirs]] for spec/ops audit. */
  private def freshAgainstSnapshotDirs(spark: SparkSession, path: String,
      baseEntries: Seq[SnapEntry], deduped: DataFrame,
      keys: Seq[String]): (DataFrame, Option[Long]) = {
    // NO .distinct(): `deduped` is KEY-UNIQUE by construction (every
    // caller passes dedupOnKey output), so the distinct was a redundant
    // full shuffle of the batch's keys — and it made probeFacts'
    // bounded limit-collect pay that whole shuffle before limiting.
    // Guide §2.4: a distinct on data that is already unique.
    val keyRows = deduped.select(keys.map(col): _*)
    // ONE bounded job (probeFacts) replaces the localCheckpoint +
    // range-aggregate + canon-collect sequence: a trickle batch's
    // ranges and bloom canons both derive from the collected key set
    // on the driver — at 100 TB the publish probe costs one bounded
    // collect of the BATCH's keys, never a pass per stage.
    val (pr, canons, batchKeys) = probeFacts(keyRows, keys)
    val candidates = pruneDirs(spark, path, baseEntries.map(_.dir), pr, canons)
    lastProbedDirs.set(candidates)
    // Merged-schema union read, PROJECTED to the key columns: the scan
    // still reads only the keys (Catalyst prunes ReadSchema to the
    // select), but the column TYPES are the dirs' own — pinning the
    // probe's schema instead crashes the vectorized reader when a
    // batch arrives with a narrower key type (int batch vs a long
    // sink); the anti join coerces the comparison. A key column absent
    // from EVERY candidate dir can match nothing (null-rejecting
    // join): the whole batch is fresh. The batch's bounding box rides
    // the scan as a PUSHED predicate: row groups outside the batch's
    // key range are skipped by footer stats — the within-dir prune for
    // dirs the sidecar stages must admit.
    if (candidates.isEmpty) (deduped, batchKeys)
    else {
      val cand = baseEntries.filter(e => candidates.contains(e.dir))
      // Projection to the keys BEFORE the anti join (ReadSchema prunes
      // to the key columns); merge-on-read entries anti-join their dvs
      // so a dv-deleted key probes as ABSENT — the re-insert of a
      // logically deleted key must land, not silently drop.
      val scan0 = readEntriesRaw(spark, path, cand, df =>
        if (!keys.forall(df.columns.contains)) df
        else {
          val keyed = df.select(keys.map(col): _*)
          probeRangeFilter(keyed.schema, pr)
            .map(keyed.filter).getOrElse(keyed)
        })
      if (!keys.forall(scan0.columns.contains)) (deduped, batchKeys)
      else (deduped.join(scan0.select(keys.map(col): _*).distinct(),
        keys, "left_anti"), batchKeys)
    }
  }

  /** Publish the batch as snapshot latest+1 (version number claimed via
    * [[Protocol.claimVersion]] — two writers can never publish the same
    * version): fresh rows (within-batch dedup + probe-PRUNED anti-join
    * against the CURRENT snapshot, [[freshAgainstSnapshotDirs]]) land
    * in an immutable `batch-N` dir; the manifest
    * lists every dir of the new version. Returns the published version.
    * Idempotent in content: a replayed batch publishes a new version
    * whose delta is EMPTY and whose read equals the previous version
    * row-for-row. */
  def writeSnapshot(spark: SparkSession, path: String, batch: DataFrame,
                    keys: Seq[String], tieBreak: Seq[String]): Int = {
    requireLiveKeys(spark, path, keys, "writeSnapshot")
    writeSnapshotFrom(spark, path,
      dedupOnKey(normalizeBatch(spark, path, batch), keys, tieBreak),
      fresh0 = None, basedOn = -1, keys, tieBreak)
  }

  /** Refuse a renamed-away column used as a key — the physical dirs
    * still carry the dead name, but it is no longer the sink's live
    * identity; keying on it would fork silently. */
  private def requireLiveKeys(spark: SparkSession, path: String,
      keys: Seq[String], op: String): Unit = {
    val dead = renamedAwayCols(spark, path)
    require(!keys.exists(dead),
      s"$op: key column(s) ${keys.filter(dead).mkString(",")} were " +
        "renamed away (schema.map) — use the live name")
  }

  /** [[writeSnapshot]] body, with an optional PRECOMPUTED fresh set:
    * the gated path already ran the keep-existing anti join (its
    * profile diff needs the fresh rows), and re-running it inside the
    * publish would charge every gated write the probe twice. `fresh0`
    * is trusted ONLY when the latest version at claim time still is
    * `basedOn` — an interleaved publish invalidates it and the anti
    * join re-runs against the actual base, same as the ungated path. */
  private def writeSnapshotFrom(spark: SparkSession, path: String,
      deduped: DataFrame, fresh0: Option[DataFrame], basedOn: Int,
      keys: Seq[String], tieBreak: Seq[String],
      fresh0Profile: Option[Sidecars.Profile] = None): Int =
      labeled(spark, "graft.publish") {
    val fs = fsFor(spark, path)
    val target = Protocol.claimVersion(fs, path)
    val cur = latestVersion(spark, path)
    val baseEntries = if (cur == 0) Seq.empty[SnapEntry]
                      else manifestEntries(spark, path, cur)
    val baseDirs = baseEntries.map(_.dir)
    // fresh0 accepted (base unchanged): its caller-computed profile
    // sketch and row count are facts of EXACTLY the rows written below
    // — the sidecar profile pass and the bloom's sizing pass both fold
    // away. An interleaved publish invalidates fresh0 and both facts
    // with it.
    val fresh0Ok = fresh0.isDefined && cur != 0 && cur == basedOn
    val (fresh, batchKeys) =
      if (cur == 0) (deduped, None)
      else if (fresh0Ok) (fresh0.get, fresh0Profile.map(_._1))
      else {
        val (f, bk) = freshAgainstSnapshotDirs(spark, path, baseEntries,
          deduped, keys)
        (f, bk)
      }
    val dirName = s"batch-$target"
    writeDirWithStats(spark, path, dirName, fresh, keys,
      keyBound = batchKeys,
      dirProfile = if (fresh0Ok) fresh0Profile else None)
    Sidecars.recordKeyCols(fs, path, keys)
    Protocol.publishDirs(fs, path, target, baseDirs :+ dirName)
    val rv = reconcileLineage(spark, path, target, dirName, keys,
      Protocol.coverage(fs, path, baseDirs), fresh.schema, baseVersion = cur)
    // Change record (append kind): the batch dir IS the version's I
    // set, so the record is one small meta file. Written only when the
    // publish landed EXACTLY as base + our dir (no heal, no carry, no
    // interleaver) — otherwise the feed's key-diff stays the truth.
    try {
      if (rv == target && !fresh.columns.exists(ChangeRecCols) &&
          Protocol.manifestDirs(fs, path, rv).sorted ==
            (baseDirs :+ dirName).sorted)
        writeChangeMeta(fs, path, rv, "append", cur, Some(dirName))
    } catch { case scala.util.control.NonFatal(e) => skipped(
      s"append change record of v$rv at $path (the feed key-diffs it)", e) }
    rv
  }

  // ── maintained drift-gate profile (PER-DIR sidecars) ────────────
  // writeSnapshotGated needs (per column: rows, nulls, distinct) for
  // the candidate state and the current state. Profiling both from the
  // data is two corpus-wide passes per gated publish; instead the gate
  // MAINTAINS the profile as `<dir>.profile` sidecars — counts add,
  // and distinct is a KMV sketch (the k smallest md5 fingerprints of
  // the distinct values: a set-valued fact of the data, so the union
  // of two sketches re-capped at k IS the sketch of the union — the
  // mergeable partial graft.ops.Cardinality documents). The unit of
  // caching is the DATA DIR, not the version: dirs are immutable, so a
  // dir's profile is truthful forever, the version profile is the
  // exact KMV union of its manifest's dir profiles, and there is NO
  // invalidation problem — a version created by merge/compaction/
  // erasure reuses the carried dirs' sidecars and only its REWRITTEN
  // dirs (batch-sized by the copy-on-write discipline) ever need a
  // profile pass, run by the same writeDirWithStats hook that stamps range
  // stats. (The r17 design keyed profiles by VERSION: one merge or
  // erasure orphaned the cache and the next gated publish re-profiled
  // the corpus.) Sinks opt in via the `gate.on` marker (first gated
  // write creates it); un-gated sinks pay nothing. Timestamps/dates
  // fingerprint via epoch micros/days (session-timezone-independent,
  // like the bloom canon).

  private[graft] val ProfileK = 256

  // Qualified-private, not `private`: the encoder's generated code
  // instantiates this class reflectively, and a Scala-private nested
  // case class compiles to a private constructor codegen cannot call.
  private[ops] case class ColSketch(idx: Int, rows: Long, nulls: Long,
      fps: Array[String])

  private def fpHex(bytes: Array[Byte]): String = {
    val hex = "0123456789abcdef"
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hex((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** ONE distributed pass over `df`: per column — row count, null
    * count, and the KMV partial (k smallest md5 fingerprints of the
    * distinct non-null values). Partitions keep capped sorted buffers
    * (the map-side combine), the per-column merge is distributed, and
    * only #columns merged sketches reach the driver. */
  private def profileSketch(df: DataFrame, k: Int = ProfileK): Sidecars.Profile = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    require(cols.nonEmpty, "profileSketch: no columns")
    val proj = df.select(cols.map { c =>
      df.schema(c).dataType match {
        case TimestampType => unix_micros(col(c)).cast("string").as(c)
        case DateType => unix_date(col(c)).cast("string").as(c)
        case _ => col(c).cast("string").as(c)
      }
    }: _*)
    val n = cols.size
    val partials = proj.mapPartitions { it =>
      val rows = new Array[Long](n); val nulls = new Array[Long](n)
      val bufs = Array.fill(n)(new java.util.TreeSet[String]())
      val md = java.security.MessageDigest.getInstance("MD5")
      it.foreach { r =>
        var i = 0
        while (i < n) {
          rows(i) += 1
          if (r.isNullAt(i)) nulls(i) += 1
          else Cardinality.offer(bufs(i),
            fpHex(md.digest(r.getString(i).getBytes("UTF-8"))), k)
          i += 1
        }
      }
      (0 until n).iterator.map(i => ColSketch(i, rows(i), nulls(i),
        bufs(i).toArray(new Array[String](0))))
    }
    val merged = partials.groupByKey(_.idx)
      .reduceGroups { (a: ColSketch, b: ColSketch) =>
        ColSketch(a.idx, a.rows + b.rows, a.nulls + b.nulls,
          Cardinality.union(a.fps, b.fps, k))
      }.map(_._2).collect()
    val byIdx = merged.map(cs => cs.idx -> cs).toMap
    val rowsTotal = byIdx.values.headOption.map(_.rows).getOrElse(0L)
    (rowsTotal, cols.zipWithIndex.map { case (c, i) =>
      val cs = byIdx.getOrElse(i, ColSketch(i, 0L, 0L, Array.empty[String]))
      c -> ((cs.nulls, cs.fps))
    }.toMap)
  }

  /** A maintained profile as the 4-column frame [[Validate.profileDrift]]
    * reads (column, n_rows, n_nulls, n_distinct) — distinct from the
    * sketch ([[Cardinality.estimate]], rounded to a count), exact below
    * k. */
  private def profileStatsToDF(spark: SparkSession,
      profile: Sidecars.Profile): DataFrame = {
    import spark.implicits._
    val (rows, m) = profile
    m.toSeq.sortBy(_._1)
      .map { case (c, (nulls, fps)) => (c, rows, nulls, fps) }
      .toDF("column", "n_rows", "n_nulls", "fps")
      .select(col("column"), col("n_rows"), col("n_nulls"),
        round(Cardinality.estimate(size(col("fps")),
          Cardinality.prefix(element_at(col("fps"), ProfileK)), ProfileK))
          .cast("long").as("n_distinct"))
  }

  /** Test/ops audit of the last [[writeSnapshotGated]] gate evaluation:
    * `"maintained"` (every manifest dir had a profile sidecar — zero
    * re-reads of published data), `"recomputed"` (some dirs lacked
    * sidecars — pre-gate dirs on first opt-in, or a sidecar write that
    * failed — and were profiled on demand, persisting the result so
    * the cost never repeats) or `"bootstrap"` (empty sink, published
    * ungated). */
  private[graft] val lastGateMode =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** [[writeSnapshot]] behind a PROFILE-DRIFT GATE: the candidate new
    * state (current version ∪ the batch's fresh rows) is profiled
    * against the current version, and any [[Validate.driftViolations]]
    * breach REFUSES the publish with a typed
    * [[graft.ops.DriftRefusedException]] — nothing is claimed or
    * written, the message lists the breached rules. The freshness/
    * volume contract run where it belongs: before the version exists,
    * so consumers never see (and never have to roll back) a drifted
    * publish.
    *
    * Cost scales with the BATCH, not the corpus: the current state's
    * profile is the exact KMV UNION of the manifest dirs' `.profile`
    * sidecars (dirs are immutable, so a dir's sidecar is truthful
    * forever — versions created by merge/compaction/erasure reuse the
    * carried dirs' sidecars, their rewrites having been stamped by the
    * same writeDirWithStats hook that writes range stats); the candidate
    * adds the fresh rows' one-pass sketch, and the probe-pruned anti
    * join supplies those fresh rows at batch cost too. Only dirs
    * predating the sink's gate opt-in (or whose best-effort sidecar
    * write failed) are profiled on demand — and persisted, so that
    * cost never repeats. Bootstrap writes (no current version) publish
    * ungated: there is nothing to drift from. */
  def writeSnapshotGated(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String], tieBreak: Seq[String],
      maxNullRateJump: Double, maxRowGrowthPct: Double,
      minRowGrowthPct: Double = 0.0,
      allowAddedColumns: Boolean = true,
      allowDroppedColumns: Boolean = false): Int =
      labeled(spark, "graft.gate") {
    val fs = fsFor(spark, path)
    fs.mkdirs(SnapLog.snapDir(path))
    // Opt the sink into per-dir profiling BEFORE any write: with the
    // `gate.on` marker, this call's own batch dir (and every later
    // rewrite) gets its `.profile` sidecar stamped at write time, so
    // the gate never re-reads published data.
    Sidecars.markGate(fs, path)
    requireLiveKeys(spark, path, keys, "writeSnapshotGated")
    val cur = latestVersion(spark, path)
    val deduped = dedupOnKey(normalizeBatch(spark, path, batch),
      keys, tieBreak)
    var freshForWrite: Option[DataFrame] = None
    var freshProfile: Option[Sidecars.Profile] = None
    if (cur >= 1) {
      val baseEntries = manifestEntries(spark, path, cur)
      val baseDirs = baseEntries.map(_.dir)
      // Checkpointed: the profile sketch below and the publish (which
      // reuses this fresh set via writeSnapshotFrom — no second anti
      // join) both read the materialized batch-sized result.
      val fresh = freshAgainstSnapshotDirs(spark, path, baseEntries,
        deduped, keys)._1.localCheckpoint()
      freshForWrite = Some(fresh)
      var missing = List.empty[String]
      val perDir = baseDirs.map { d =>
        Sidecars.profile(fs, path, d).getOrElse {
          missing ::= d
          val p = profileSketch(readDirs(spark, Seq(s"$path/$d")))
          Sidecars.writeProfile(fs, path, d, p)
          p
        }
      }
      lastGateMode.set(if (missing.isEmpty) "maintained" else "recomputed")
      val prev = perDir.reduceOption(Sidecars.mergeProfiles(_, _, ProfileK))
        .getOrElse((0L, Map.empty[String, (Long, Array[String])]))
      val fProfile = labeled(spark, "graft.gate profile")(profileSketch(fresh))
      freshProfile = Some(fProfile)
      val bad = Validate.driftViolations(
        Validate.profileDrift(profileStatsToDF(spark,
          Sidecars.mergeProfiles(prev, fProfile, ProfileK)),
          profileStatsToDF(spark, prev)),
        maxNullRateJump, maxRowGrowthPct, minRowGrowthPct,
        allowAddedColumns, allowDroppedColumns)
        .select(col("violation"), col("column")).collect()
      if (bad.nonEmpty) throw new DriftRefusedException(
        "writeSnapshotGated: drift gate refused the publish: " +
          bad.map(r => s"${r.getString(0)}(${r.getString(1)})")
            .mkString(", "))
    } else lastGateMode.set("bootstrap")
    // No version-level persist: the batch dir's own profile sidecar is
    // stamped inside the publish path (writeDirWithStats sees the gate
    // marker), and carried dirs already have theirs — there is nothing
    // that can go stale when an interleaved writer or reconcile
    // rewrite changes the published manifest.
    writeSnapshotFrom(spark, path, deduped,
      freshForWrite, basedOn = cur, keys, tieBreak,
      fresh0Profile = freshProfile)
  }

  /** Wall-clock publish time (epoch millis) of snapshot `version`
    * ([[Protocol.publishedAtMs]]). */
  def publishedAtMs(spark: SparkSession, path: String, version: Int): Long =
    Protocol.publishedAtMs(fsFor(spark, path), path, version)

  /** The snapshot version a reader at wall-clock `tsMs` would have seen
    * as latest: the HIGHEST version whose publish time is ≤ tsMs.
    * Highest-version (not latest-timestamp) because reconciliation can
    * publish versions out of wall-clock order during writer races — the
    * read contract is always "the max published version", so the as-of
    * answer is the max version that existed then. Throws when nothing
    * was published by `tsMs`. */
  def versionAsOf(spark: SparkSession, path: String, tsMs: Long): Int = {
    val at = latestAt(spark, path, tsMs)
    require(at.nonEmpty,
      s"no snapshot published at or before epoch-ms $tsMs at $path")
    at.get
  }

  /** The highest version published at or before `tsMs`, if any. */
  private def latestAt(spark: SparkSession, path: String,
      tsMs: Long): Option[Int] =
    sinkListing(spark, path).versions
      .filter(v => publishedAtMs(spark, path, v) <= tsMs).maxOption

  /** Time travel by TIMESTAMP: the sink exactly as a reader at epoch-ms
    * `tsMs` saw it — `readSnapshot` of [[versionAsOf]]. */
  def readSnapshotAsOf(spark: SparkSession, path: String,
                       tsMs: Long): DataFrame =
    readSnapshot(spark, path, versionAsOf(spark, path, tsMs))

  /** POINT READ: the rows of snapshot `version` whose keys appear in
    * `probe` — opening ONLY the dirs whose key-range stats can overlap
    * the probed keys. The read path twin of the merge/erase probe
    * pruning: a handful-of-keys lookup against a compacted 100 TB sink
    * opens the few dirs those keys can live in, not the corpus. Dirs
    * without stats are read (correctness never depends on a sidecar). */
  def readSnapshotForKeys(spark: SparkSession, path: String, version: Int,
      probe: DataFrame, keys: Seq[String]): DataFrame = {
    val entries = manifestEntries(spark, path, version)
    // LAZY checkpoint: probeFacts' first action materializes the
    // blocks in its own job — no standalone materialization pass —
    // and every later consumer (the semi join) reads the blocks.
    val keyRows = probe.select(keys.map(col): _*).distinct()
      .localCheckpoint(false)
    // probeFacts: ranges + bloom canons from ONE bounded collect over
    // the checkpointed keys (replacing the range aggregate + the bloom
    // stage's canon collect).
    val (pr, canons, probeCnt) = probeFacts(keyRows, keys)
    val candidates = pruneDirs(spark, path, entries.map(_.dir), pr, canons)
    lastProbedDirs.set(candidates)
    if (candidates.isEmpty)
      readSnapshot(spark, path, version).limit(0)
    else {
      // The probe's bounding box pushes to each group's scan: inside a
      // big key-sorted compact dir, footer stats skip the row groups
      // the probed keys can't live in (the semi join stays for
      // exactness); merge-on-read entries anti-join their dvs so a
      // dv-dead key reads as absent.
      val scan = readEntriesRaw(spark, path,
        entries.filter(e => candidates.contains(e.dir)),
        df => probeRangeFilter(df.schema, pr)
          .map(df.filter).getOrElse(df))
      applySchemaMap(spark, path, scan.join(
        maybeBroadcastKeys(keyRows, probeCnt.getOrElse(0L)),
        keys, "left_semi"))
    }
  }

  /** Test hook: runs between the (lock-free) compaction rewrite and
    * the lock acquisition, so specs can inject a racing rewriter into
    * exactly the window the staleness re-validation exists for. */
  private[graft] var compactPreLockHook: () => Unit = () => ()

  /** OPTIMIZE: repackage the current version's dirs into ONE claim-named
    * `compact-<v>` dir and publish it as a new version (content-identical
    * read). Older manifests keep referencing the original immutable
    * dirs, so every historical version still time-travels — nothing is
    * deleted here (retention is [[expireSnapshots]]' decision).
    *
    * Which dirs pack: every entry by default; with `smallBytes`, only
    * the entries whose dir holds at most that many bytes (the bin-pack
    * a 100 TB sink runs routinely — a day of trickle CDC batches packs
    * while the multi-TB base carries by reference, so the cost tracks
    * the NEW data, not the corpus). The input decides the rest:
    *   - every entry packs: the rewrite reads the LOGICAL snapshot
    *     (schema map applied, dvs folded — compaction is what resets
    *     dv'd entries and physically migrates renames), and interleaved
    *     appends carry by PROVENANCE diff;
    *   - some entries carry: the pack reads its entries RAW (dvs still
    *     folded) so it matches the carried dirs' physical schema, the
    *     carry is every latest dir not packed, and fewer than 2 packed
    *     dirs is a no-op returning the current version.
    * Layout: key-sorted (range-partitioned) so the big dir's footers
    * stay probe-skippable; with `zOrderBy`, the Morton interleave of
    * those integral columns instead ([[graft.ext.Export.zorderKey]],
    * `zBits` low bits each, `zBits * zOrderBy.size <= 62`, `zShards`
    * pinned output files) — looser on the first key, but a bound on
    * ANY z column skips files (declare them with [[declareSkipCols]]
    * so bounded reads also prune dirs).
    *
    * Concurrency: the rewrite runs LOCK-FREE; only the staleness check
    * + publish + carry reconcile hold the exclusive
    * `_snapshots/compact.lock` (holding it across the rewrite would
    * serialize every merge, erasure and streaming CDC batch behind the
    * slowest operation in the sink — the r15 liveness hole). Dirs are
    * immutable and every rewriter REPLACES the entries it touches, so
    * "every packed entry still listed" ⟺ "the content we packed is
    * still live"; a stale pack is deleted and redone from the new
    * latest. A crashed compactor leaves the lock; the error names it.
    * Content-preserving: never bumps the rewrite generation. */
  def compactSnapshots(spark: SparkSession, path: String,
      smallBytes: Long = Long.MaxValue, zOrderBy: Seq[String] = Nil,
      zBits: Int = 12, zShards: Int = 0): Int =
      labeled(spark, "graft.compact") {
    val fs = fsFor(spark, path)
    Protocol.attempts(fs, path, "compactSnapshots",
        s"compactSnapshots: packed dirs rewritten under us 5 times at " +
          s"$path — rewriter storm; retry when merges/erasures quiesce") {
      val cur = latestVersion(spark, path)
      require(cur >= 1, "nothing to compact: no published snapshot")
      val baseEntries = manifestEntries(spark, path, cur)
      val packedEntries =
        if (smallBytes == Long.MaxValue) baseEntries
        else baseEntries.filter { e =>
          fs.getContentSummary(new org.apache.hadoop.fs.Path(path, e.dir))
            .getLength <= smallBytes
        }
      val full = packedEntries.size == baseEntries.size
      if (!full && packedEntries.size < 2) Some(cur)
      else {
        val packed = packedEntries.map(_.dir)
        val absorbed = Protocol.coverage(fs, path, packed)
        // Same claim discipline as writeSnapshot: a compactor racing a
        // writer must not reuse the writer's version number, and the dir
        // name is unique across racing compactors before either locks.
        val target = Protocol.claimVersion(fs, path)
        val dirName = s"compact-$target"
        val statKeys = Sidecars.keyCols(fs, path)
        val rows =
          if (full) readSnapshot(spark, path, cur)
          else readEntriesRaw(spark, path, packedEntries)
        // keyBound: the pack holds at most its dirs' rows (dv'd rows
        // only shrink it), so the observed bloom rides the pack's write.
        val packedRows = packedEntries.map(e =>
          Sidecars.stats(fs, path, e.dir).flatMap(_.rows))
        writeDirWithStats(spark, path, dirName,
          if (zOrderBy.nonEmpty) zOrderLayout(rows, zOrderBy, zBits, zShards)
          else keySortedForFooters(rows, statKeys),
          statKeys,
          keyBound = if (packedRows.forall(_.isDefined))
            Some(packedRows.flatten.sum) else None)
        // Provenance BEFORE the manifest publish: a manifest referencing
        // a compact dir must never be readable without its absorbed set
        // (reconciliation reasons over it).
        Protocol.writeAbsorbed(fs, path, dirName, absorbed)
        compactPreLockHook()
        // Stale: a rewriter (merge/erasure/another compactor) replaced
        // part of what we packed; the orphan is dropped and we retry.
        Protocol.commitOver(fs, path, "compactSnapshots", packedEntries,
            () => SnapLog.dropDir(fs, path, dirName)) {
            (latestNow, latestEntries) =>
          // Carry from the LATEST manifest. A full pack carries the
          // dirs a writer published since `cur` whose provenance the
          // pack does not cover (sequential compact-then-write content;
          // the writers' own reconcileLineage covers the inverse
          // order). A partial pack carries every dir it did not pack —
          // large base dirs, appends, even rewrites of large dirs.
          val latestDirs = latestEntries.map(_.dir)
          val carry =
            if (full) latestDirs
              .filterNot(d => Protocol.provenance(fs, path, d).subsetOf(absorbed))
            else latestDirs.filterNot(packed.contains)
          carry.foreach { d =>
            val p = Protocol.provenance(fs, path, d)
            if (p.exists(absorbed)) throw new IllegalStateException(
              s"compactSnapshots: carried dir $d partially overlaps " +
                s"the packed set (${p.filter(absorbed)}) — concurrent " +
                "compaction artifacts; resolve manually")
          }
          val pubV = Protocol.claimAbove(fs, path, target, latestNow)
          Protocol.publishDirs(fs, path, pubV, dirName +: carry)
          val rv = reconcileCompact(spark, path, pubV, dirName, absorbed,
            baseVersion = cur)
          // Change record (none kind): this version's content equals
          // latestNow's only when every latest dir was packed or carried
          // and the reconcile did not republish; a covered-but-not-packed
          // latest dir would make "no change" a lie, so it skips.
          if (rv == pubV && latestDirs.forall(d =>
              packed.contains(d) || carry.contains(d)))
            writeChangeMeta(fs, path, rv, "none", latestNow, None)
          rv
        }
      }
    }
  }

  /** The Morton layout of [[compactSnapshots]]' `zOrderBy`. */
  private def zOrderLayout(df: DataFrame, zCols: Seq[String], bits: Int,
      shards: Int): DataFrame = {
    require(zCols.forall(df.columns.contains),
      s"compactSnapshots: z columns ${zCols.mkString(",")} " +
        s"must exist in the snapshot (${df.columns.mkString(",")})")
    require(!df.columns.contains("__z"),
      "compactSnapshots: the sink has a data column named " +
        "'__z' (the reserved scratch column) — the layout would " +
        "silently destroy it; rename the column first")
    val z = df.withColumn("__z",
      graft.ext.Export.zorderKey(zCols.map(col), bits))
    // Explicit shard count pins the file layout (each output file =
    // one z-range = one hypercube); the default lets AQE size the
    // shuffle, which on small inputs coalesces to one file — fine
    // for data, useless for file-level skipping.
    (if (shards > 0) z.repartitionByRange(shards, col("__z"))
     else z.repartitionByRange(col("__z")))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Compactor's post-publish reconciliation: if an interleaved writer
    * (who chained off a pre-compaction manifest) published a lineage
    * without the compact dir, republish `compact dir + the latest
    * dirs its base does not cover`. No key-level step — the compact
    * dir's rows ARE the base lineage, so covered dirs are whole-row
    * duplicates to exclude, never key conflicts to resolve. */
  private def reconcileCompact(spark: SparkSession, path: String,
      published: Int, dirName: String, absorbed: Set[String],
      baseVersion: Int): Int = {
    val fs = fsFor(spark, path)
    var version = published
    var attempts = 0
    while (attempts < 100) {
      val w = Protocol.window(fs, path, baseVersion)
      val latestDirs = w.dirs
      // Crossed-publish sweep: an appender that published between this
      // compactor's interleaved scan and its manifest rename is in
      // neither the compacted base nor the carry — and its own
      // reconcile may have exited while IT was momentarily latest.
      val dropped = w.dropped.filterNot(d => Protocol.provenance(fs, path, d)
          .subsetOf(absorbed))
      // Name check, not coverage: a compact dir's provenance is its
      // ABSORBED set (never itself), and no other compactor can absorb
      // it while this one still holds the lock.
      if (latestDirs.contains(dirName) && dropped.isEmpty) return version
      version = Protocol.claimVersion(fs, path)
      // Shadow-collapse the union so a carried original never rides
      // next to its own rewrite; the absorbed-set filter then removes
      // whatever the compact dir itself already carries. Crossed
      // re-attachments heal by claim order like the writer reconcile —
      // the compactor may be the only carrier that ever sees both
      // sides of the cross.
      val carry0 = Protocol.collapseShadows(fs, path, latestDirs ++ dropped)
        .filterNot(d => d == dirName ||
          Protocol.provenance(fs, path, d).subsetOf(absorbed))
      val carry =
        if (dropped.isEmpty) carry0
        else resolveCarriedConflicts(spark, path, carry0, dropped.toSet,
          dirName, Sidecars.keyCols(fs, path), version)
      Protocol.publishDirs(fs, path, version, dirName +: carry)
      attempts += 1
    }
    throw new IllegalStateException(
      s"reconcileCompact: $dirName still unreachable from the latest " +
        s"manifest at $path after 100 republishes — writer storm")
  }

  /** Copy-on-write MERGE — the CDC apply the keep-existing sink can't
    * express: `changes` carries the data columns plus `opCol` ∈
    * {"I","U","D"}; the result publishes as version latest+1.
    *   I — insert iff the key is absent (the sink's keep-existing
    *       contract, preserved);
    *   U — upsert: replace the current row for the key, insert if new;
    *   D — delete the key (absent key → no-op).
    * Multiple change rows per key collapse to ONE op via the same
    * tie-break as [[dedupOnKey]] before anything applies.
    *
    * Copy-on-write discipline: ONLY the base dirs that actually hold a
    * touched (U/D) key are rewritten (as `<dir>-m<version>`, minus
    * those keys, with an `.absorbed` provenance record so lineage
    * reasoning still covers the original); untouched dirs carry into
    * the new manifest BY REFERENCE — a merge touching 0.1% of keys
    * rewrites ~0.1% of a compacted sink, not the corpus. Every
    * historical version still time-travels (originals are never
    * deleted here; [[expireSnapshots]] reclaims them past the horizon).
    * Run [[compactSnapshots]] periodically: the affected-dir probe and
    * the rewrite granularity are both per-dir, so a short dir chain is
    * what makes merges cheap.
    *
    * Concurrency: a merge is a REWRITER, but its rewrites run
    * LOCK-FREE into claim-named paths; only staleness re-validation +
    * publish hold the exclusive rewriter lock (compaction's r16
    * discipline — holding it across a large-dir rewrite serialized
    * every other rewriter and stalled the streaming CDC feed behind
    * the slowest rewrite in the sink). A dir replaced under us is
    * caught by the post-lock check and the merge redone from the new
    * latest. Plain appenders stay optimistic: dirs a writer publishes
    * between this merge's base read and its publish are carried by
    * provenance diff (their rows win over the merge's deletes/updates
    * — sequential merge-then-write equivalence), and the post-publish
    * reconcile resolves insert races key-level (the merge's fresh rows
    * re-verify against any dirs that interleave AFTER its publish,
    * rewriting `merge-N-r<v>` minus stolen keys — same discipline as
    * [[writeSnapshot]]'s reconcile). Returns the published version. */
  /** Test hook: runs between a merge's (lock-free) rewrites and its
    * lock acquisition, so specs can inject a racing rewriter into
    * exactly the window the staleness re-validation exists for (the
    * merge twin of [[compactPreLockHook]]). */
  private[graft] var mergePreLockHook: () => Unit = () => ()

  /** Test hook: runs after a merge COMMITTED (lock released) but before
    * its deferred change-record write — the window in which a completed
    * eraseKeys must void the record (its meta publish re-validates the
    * rewrite generation under the lock). */
  private[graft] var mergePreRecordHook: () => Unit = () => ()

  def mergeSnapshot(spark: SparkSession, path: String, changes: DataFrame,
                    keys: Seq[String], tieBreak: Seq[String],
                    opCol: String = "op"): Int =
    mergeSnapshotImpl(spark, path, changes, keys, tieBreak, opCol,
      mor = false)

  /** MERGE-ON-READ variant of [[mergeSnapshot]] — same I/U/D contract,
    * same published result row-for-row, different WRITE amplification:
    * instead of rewriting every touched dir copy-on-write (one U row in
    * a multi-TB compacted dir rewrites the whole dir), each touched dir
    * gets a DELETION VECTOR — a tiny parquet dir of the dead rows' keys
    * — attached to its manifest entry (`dir\tdv,…`) and anti-joined at
    * read. A trickle-CDC merge on hot keys publishes a new version with
    * ZERO data-dir rewrites: cost = probes + the landing dir + dv dirs,
    * all batch-proportional.
    *
    * The read tax is per-entry (one anti join per distinct dv set);
    * COMPACTION FOLDS dvs physically (it reads the resolved view), so
    * the steady state is the usual loop: trickle MoR merges between
    * compactions, each compaction resetting entries to plain dirs.
    * Time travel, the change feed (recorded and key-diff), metadata
    * COUNT/MIN/MAX, erasure and expiry all stay exact — dv'd entries
    * subtract/fall back where a sidecar alone would overstate
    * (the Delta/Iceberg deletion-vector design, format-lite).
    *
    * Gated sinks: per-dir drift profiles describe the PHYSICAL dirs,
    * so a dv'd dir's profile still counts its dead rows — the gate
    * sees a conservative (pre-delete) distribution until the next
    * compaction folds the dvs and re-profiles. Drift thresholds fire
    * on jumps, not absolutes, so the skew is bounded by the dv'd
    * fraction — run compactions on the usual cadence. */
  def mergeSnapshotMoR(spark: SparkSession, path: String,
      changes: DataFrame, keys: Seq[String], tieBreak: Seq[String],
      opCol: String = "op"): Int =
    mergeSnapshotImpl(spark, path, changes, keys, tieBreak, opCol,
      mor = true)

  private def mergeSnapshotImpl(spark: SparkSession, path: String,
      changes: DataFrame, keys: Seq[String], tieBreak: Seq[String],
      opCol: String, mor: Boolean): Int =
      labeled(spark, "graft.merge") {
    val fs = fsFor(spark, path)
    fs.mkdirs(SnapLog.snapDir(path))
    requireLiveKeys(spark, path, keys, "mergeSnapshot")
    val op = upper(col(opCol))
    val deduped = dedupOnKey(normalizeBatch(spark, path, changes),
      keys, tieBreak).withColumn(opCol, op).localCheckpoint()
    // ONE "facts" aggregate over the checkpointed batch replaces the
    // op-validation probe, the touched/iKeys standalone checkpoints
    // and both probeFacts range jobs (guide §2.4 — remove whole
    // passes): `deduped` is KEY-UNIQUE (dedupOnKey), so conditional
    // counts ARE distinct-key counts and conditional min/max ARE the
    // probes' bounding boxes — a single partial aggregate, no shuffle,
    // no extra pass per prologue stage. Probes don't change across
    // stale retries, so the facts are computed once before the loop.
    val opc = col(opCol)
    val badPred = opc.isNull || !opc.isin("I", "U", "D")
    val tPred = !opc.isNull && opc.isin("U", "D")
    val iPred = opc === "I"
    val statKeys = keys.flatMap(k =>
      KeyDomain.tagOf(deduped.schema(k).dataType).map(k -> _))
    val factAggs =
      Seq(count(when(badPred, lit(1))).as("__bad"),
        count(when(tPred, lit(1))).as("__tn"),
        count(when(iPred, lit(1))).as("__in"),
        count(when(opc === "U", lit(1))).as("__un")) ++
      statKeys.flatMap { case (k, _) => Seq(
        min(when(tPred, col(k))), max(when(tPred, col(k))),
        min(when(iPred, col(k))), max(when(iPred, col(k)))) }
    val facts = labeled(spark, "graft.merge facts")(
      deduped.agg(factAggs.head, factAggs.tail: _*).head())
    require(facts.getLong(0) == 0,
      s"mergeSnapshot: $opCol must be one of I/U/D")
    val tCnt = facts.getLong(1)
    val iCnt = facts.getLong(2)
    val uCnt = facts.getLong(3)
    def factRanges(offset: Int): Ranges =
      statKeys.zipWithIndex.map { case ((k, tag), j) =>
        (k, tag, KeyDomain.rangeOf(facts.get(4 + 4 * j + offset),
          facts.get(4 + 4 * j + offset + 1)))
      }
    val touchedPr = factRanges(0)
    val iPr = factRanges(2)
    // Key-unique projections of the checkpoint — no .distinct() (a
    // redundant shuffle), no standalone checkpoints: consumers read
    // the batch-sized checkpoint blocks; [[maybeBroadcastKeys]] keeps
    // the probe side broadcast where the old checkpointed-size
    // estimate used to.
    val touched0 = deduped.filter(tPred).select(keys.map(col): _*)
    val touched = maybeBroadcastKeys(touched0, tCnt)
    val iRows = deduped.filter(iPred).drop(opCol)
    val uRows = deduped.filter(opc === "U").drop(opCol)
    val iKeys = iRows.select(keys.map(col): _*)
    // Bloom canons: one bounded collect per probe class, only when the
    // facts say it fits the cap (the big regime skips the bloom stage
    // by contract, now without even the limit-collect attempt).
    def canonsFor(keysDf: DataFrame, cnt: Long): Map[Seq[String], Array[String]] =
      if (!keys.forall(k => KeyDomain.tagOf(deduped.schema(k).dataType).isDefined) ||
          cnt > BloomProbeMax) Map.empty
      else Map(keys.sorted -> (if (cnt == 0) Array.empty[String]
        else KeyDomain.canonRowsOf(labeled(spark, "graft.merge canons")(
          keysDf.limit(BloomProbeMax + 1).collect()), keysDf.schema, keys)))
    val touchedCanons = canonsFor(touched0, tCnt)
    val iCanons = canonsFor(iKeys, iCnt)
    // The marker ENABLES the dv-reattach scan on later publishes —
    // LOAD-BEARING, not best-effort: a name-based publish on a sink
    // whose marker is missing reattaches nothing and silently
    // resurrects every dv-deleted row. Created AFTER the eager
    // validations (a refused op column or empty sink must not brand a
    // plain COW sink with the per-publish reattach scan forever) but
    // BEFORE any rewrite/publish, so no manifest carrying a dv can be
    // visible without it; a create failure aborts the merge.
    if (mor) {
      require(latestVersion(spark, path) >= 1,
        "nothing to merge into: no published snapshot")
      if (!fs.exists(SnapLog.morMarker(path)))
        SnapLog.writeText(fs, SnapLog.morMarker(path), "")
    }
    // Every data rewrite (touched-dir copies, the landing write — the
    // hours-long part when a merge hits a large dir at 100 TB) runs
    // LOCK-FREE into claim-named paths; the lock covers only the
    // re-validation and publish ([[Protocol.commitOver]]). Plain appends
    // only ADD dirs and are carried as interleaved. (An OFFLINE
    // eraseKeys can still delete a dir out from under the lock-free
    // reads — that op's contract quiesces writers, this merge included.)
    // Each attempt's classify checkpoint is freed when the merge returns.
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try Protocol.attempts(fs, path, "mergeSnapshot",
        s"mergeSnapshot: base rewritten under us 5 times at $path — " +
          "rewriter storm; retry when compactions/erasures quiesce") {
      val cur = latestVersion(spark, path)
      require(cur >= 1, "nothing to merge into: no published snapshot")
      val target = Protocol.claimVersion(fs, path)
      val baseEntries = manifestEntries(spark, path, cur)
      val baseDirs = baseEntries.map(_.dir)
      val entryByDir = baseEntries.map(e => e.dir -> e).toMap
      val baseCoverage = Protocol.coverage(fs, path, baseDirs)
      // RAW schema: the rewrites pin it onto per-dir reads, and dirs
      // carry PHYSICAL names — the mapped view would NULL a renamed
      // column out of every pre-rename dir.
      val snapshotSchema = readSnapshotRaw(spark, path, cur).schema
      // Touched-key pruning (range stats + bloom): only dirs that can
      // hold a U/D key get the left-semi probe — the rest carry
      // without being OPENED. On a compacted 100 TB sink a trickle
      // merge probes the handful of dirs its keys can live in.
      val candidates = pruneDirs(spark, path, baseDirs, touchedPr, touchedCanons)
      lastProbedDirs.set(candidates)
      val tFilter = probeRangeFilter(snapshotSchema, touchedPr)
      // A dir's LIVE view: pinned-schema scan minus its entry's dvs —
      // a dv-dead touched key must neither classify the dir dirty nor
      // enter pre-images / a new dv (it is already deleted).
      def liveDir(d: String) = antiDv(spark, path,
        spark.read.schema(snapshotSchema).parquet(s"$path/$d"),
        entryByDir.get(d).map(_.dvs).getOrElse(Nil))
      def liveHits(d: String) = {
        val sc = liveDir(d)
        tFilter.map(sc.filter).getOrElse(sc)
          .join(touched, keys, "left_semi")
      }
      // Dirty/clean classification in ONE pass over ALL candidate dirs
      // (the scheduler runs their scans in parallel): each candidate's
      // pruned semi-join contributes its matched LIVE rows,
      // packed as `__row` beside their `__dir` tag — exactly the rows
      // the COW rewrites drop and the MoR dvs kill, i.e. the change
      // record's pre-images. A LAZY local checkpoint keeps them
      // (batch-sized: at most the touched keys), so the per-dir counts
      // are the job that materializes it, and the dvs and the record
      // read its blocks instead of scanning the dirty dirs again.
      val hits: Option[DataFrame] =
        if (candidates.isEmpty) None
        else Some(balancedUnion(candidates.map(d => liveHits(d)
            .select(struct(col("*")).as("__row"), lit(d).as("__dir"))))
          .localCheckpoint(false))
      pins ++= hits
      val hitDirs: Set[String] = hits.fold(Set.empty[String])(h =>
        labeled(spark, "graft.merge classify")(dirCounts(h)).keySet)
      val (rewritten, probedClean) = candidates.partition(hitDirs.contains)
      val carried = probedClean ++ baseDirs.filterNot(candidates.contains)
      // COW: rewrite each dirty dir minus touched keys, FOLDING its dvs
      // (the rewrite is the dir's new line of truth — re-publishing
      // dv-dead rows would resurrect them). MoR: no data rewrite at
      // all — each dirty dir gets a dv of the hit keys instead.
      val rewriteNames =
        if (mor) Nil
        else rewritten.map { d =>
          val rw = s"$d-m$target"
          // keyBound: the rewrite's keys are a subset of the parent
          // dir's rows (its sidecar row count) — the observed bloom
          // rides the rewrite job.
          writeDirWithStats(spark, path, rw,
            liveDir(d).join(touched, keys, "left_anti"), keys,
            keyBound = Sidecars.stats(fs, path, d).flatMap(_.rows))
          Protocol.writeAbsorbed(fs, path, rw, Protocol.provenance(fs, path, d))
          rw
        }
      val dvByDir: Map[String, String] =
        if (!mor) Map.empty
        else rewritten.zipWithIndex.map { case (d, i) =>
          val dv = s"dv-$target-$i"
          // The dir's hit keys from the classify checkpoint (a dir holds
          // each key once), as ONE file: every read of the entry
          // anti-joins it. keyBound: a subset of the touched keys.
          writeDirWithStats(spark, path, dv,
            hits.get.filter(col("__dir") === d)
              .select(keys.map(k => col("__row")(k).as(k)): _*).coalesce(1),
            keys, keyBound = Some(tCnt))
          d -> dv
        }.toMap
      // Landing rows: every U (old copy just removed by the rewrites),
      // plus I rows whose key the base snapshot lacks (keep-existing).
      // The presence probe is PRUNED to the dirs the BATCH's I keys can
      // live in — the write-path twin of the touched-dir pruning; the
      // corpus-wide readSnapshot scan this replaces was the last
      // corpus-proportional cost in the merge.
      val presentDirs = pruneDirs(spark, path, baseDirs, iPr, iCanons)
      lastPresentDirs.set(presentDirs)
      val freshI =
        if (presentDirs.isEmpty || !keys.forall(snapshotSchema.fieldNames.contains))
          iRows
        else {
          // SINK-typed key schema (from the snapshot's own union
          // schema, already computed): pinning the probe's types would
          // crash the reader on a narrower-typed batch; the anti join
          // coerces the comparison.
          val pSchema = org.apache.spark.sql.types.StructType(
            keys.map(k => snapshotSchema(snapshotSchema.fieldIndex(k))))
          // Grouped by dv set: a dv-DEAD key must probe as absent —
          // the keep-existing insert of a deleted key has to land.
          val pScan0 = baseEntries.filter(e => presentDirs.contains(e.dir))
            .groupBy(_.dvs).toSeq.sortBy(_._1.mkString(","))
            .map { case (dvs, es) =>
              antiDv(spark, path, spark.read.schema(pSchema)
                .parquet(es.map(e => s"$path/${e.dir}"): _*), dvs)
            }.reduce(_.unionByName(_))
          val pScan = probeRangeFilter(pSchema, iPr)
            .map(pScan0.filter).getOrElse(pScan0)
          iRows.join(pScan.distinct(), keys, "left_anti")
        }
      val land0 = uRows.unionByName(freshI)
      val mergeDir = s"merge-$target"
      // keyBound: the landing holds at most every U row plus every I
      // row of the (key-unique) batch.
      writeDirWithStats(spark, path, mergeDir, land0, keys,
        keyBound = Some(uCnt + iCnt))
      Sidecars.recordKeyCols(fs, path, keys)
      mergePreLockHook()
      // Orphans of a stale base or a lost lock: without cleanup every
      // lock collision (the streaming CDC sink retries them routinely)
      // would strand a full set of rewritten dirs for the offline vacuum.
      def dropRewrites(): Unit =
        (rewriteNames ++ dvByDir.values :+ mergeDir)
          .foreach(SnapLog.dropDir(fs, path, _))
      // The record's version and the rewrite generation are fixed
      // inside the critical section and ACTED ON after it: the change
      // record re-reads the rewritten dirs and writes a parquet dir —
      // data jobs that must not run under the lock (the critical
      // section's contract is metadata-only; a record write under it
      // would stall every rewriter and the streaming CDC feed behind
      // a scan). The inputs are immutable dirs, so deferring is safe.
      Protocol.commitOver(fs, path, "mergeSnapshot", baseEntries,
          dropRewrites _) { (latestNow, latestEntries) =>
        val latestDirs = latestEntries.map(_.dir)
        // Interleaved appenders between the base read and this
        // publish: carry their dirs (their rows win over this
        // merge's deletes — sequential merge-then-write
        // equivalence). Taken from the LATEST manifest, so writers
        // that claimed above `target` are covered too.
        val interleaved = latestDirs.filterNot(baseDirs.contains)
          .filterNot(d =>
            Protocol.provenance(fs, path, d).subsetOf(baseCoverage))
        val pubV = Protocol.claimAbove(fs, path, target, latestNow)
        // Landing rows must ALSO yield to the interleaved appenders'
        // keys — those dirs are carried unrewritten and the base
        // presence probe cannot see them, so a landing row sharing a
        // key would publish the key twice. Only I keys can actually
        // collide (a U/D key existed in the base, so no interleaved
        // keep-existing append can carry it), and the cost is
        // batch-sized on the rare contended path — the long rewrites
        // above stay lock-free.
        val finalMerge =
          if (interleaved.isEmpty) mergeDir
          else {
            val inKeys = readEntriesRaw(spark, path,
                latestEntries.filter(e => interleaved.contains(e.dir)))
              .select(keys.map(col): _*).distinct()
            val rw = s"$mergeDir-r$pubV"
            writeDirWithStats(spark, path, rw,
              readDirs(spark, Seq(s"$path/$mergeDir"))
                .join(inKeys, keys, "left_anti"), keys,
              keyBound = Sidecars.stats(fs, path, mergeDir).flatMap(_.rows))
            // The unfiltered landing dir is never published — drop
            // it rather than leave a vacuum-bait orphan.
            SnapLog.dropDir(fs, path, mergeDir)
            rw
          }
        // Rows of already-published dirs changed -> name-based delta
        // readers must recompute ([[Protocol.rewriteGen]]). Before the
        // manifest rename, so no reader ever sees the publish
        // without the marker. A merge-on-read dv IS a content
        // change to a published dir — same rule.
        if (rewriteNames.nonEmpty || dvByDir.nonEmpty)
          Protocol.touchRewriteGen(fs, path, target)
        if (mor)
          // Entries form: the NEW dvs are in no manifest yet, so the
          // name-based reattach cannot supply them.
          Protocol.publish(fs, path, pubV,
            carried.map(entryByDir) ++
              rewritten.map { d =>
                val e = entryByDir(d)
                SnapEntry(e.dir, (e.dvs :+ dvByDir(d)).sorted)
              } ++
              latestEntries.filter(e => interleaved.contains(e.dir)) :+
              SnapEntry(finalMerge, Nil))
        else
          Protocol.publishDirs(fs, path, pubV,
            carried ++ rewriteNames ++ interleaved :+ finalMerge)
        // The merge dir is self-rooted, so the unified reconcile
        // applies: its dropped-version sweep carries WHOLE dropped
        // manifests and shadow-collapses (rewrites over originals),
        // which is exactly what keeps a re-attached merge from
        // pairing with pre-merge originals; key conflicts resolve
        // with the merge dir yielding.
        val rv = reconcileLineage(spark, path, pubV, finalMerge, keys,
          baseCoverage ++ rewriteNames ++
            interleaved.flatMap(d => Protocol.provenance(fs, path, d)),
          land0.schema, baseVersion = cur)
        // Change record: the landing dir (the new side) named, and
        // the classify's pre-images (the old side) stored — skipped on
        // the contended paths (interleaver carried, reconcile
        // republished), where what landed differs from what this pass
        // computed. Without pre-images it is an `append` record, one
        // meta file written here under the lock. Pre-images are a data
        // job, written AFTER the lock releases, with the
        // rewrite-generation fingerprint AT COMMIT (still under the
        // lock): the deferred record write re-validates against it
        // before its meta publish — an eraseKeys that completed in the
        // window would otherwise have its record sweep overwritten,
        // re-persisting the erased subject's pre-images under
        // v<N>.changes.
        val recordable = rv == pubV && interleaved.isEmpty &&
          !(land0.columns ++ snapshotSchema.fieldNames).exists(ChangeRecCols)
        if (recordable && hitDirs.isEmpty)
          writeChangeMeta(fs, path, rv, "append", cur, Some(mergeDir))
        val record =
          if (recordable && hitDirs.nonEmpty)
            Some((rv, Protocol.rewriteGen(fs, path)))
          else None
        (rv, record)
      }.map { case (rv, record) =>
        mergePreRecordHook()
        record.foreach { case (v, genAtCommit) =>
          // One file, like a dv: every feed span over v reads it.
          writeMergeChangeRecord(spark, path, v, base = cur,
            hits.get.select(col("__row.*")).coalesce(1), mergeDir,
            genAtCommit)
        }
        rv
      }
    } finally pins.foreach(graft.ext.Dedup.freeCheckpoint)
  }

  /** Rows per `__dir` tag of `tagged`, in one grouped pass: the
    * classify step of merges and erasure (dirs with no row are absent). */
  private def dirCounts(tagged: DataFrame): Map[String, Long] =
    tagged.groupBy("__dir").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Time travel: version N exactly as published, whatever has been
    * written since — a union read of its manifest's immutable dirs.
    * The read is ADDITIVELY SCHEMA-EVOLVED: a later batch may carry new
    * columns, and earlier dirs surface NULL there — the merged schema
    * of every dir ([[dirsSchema]], pinned: one cached footer per dir,
    * never a footer scan per read). Renames/drops/retypes are
    * NOT supported (no column-id mapping in this format-lite sink —
    * the documented line short of Delta/Iceberg). */
  def readSnapshot(spark: SparkSession, path: String, version: Int): DataFrame =
    applySchemaMap(spark, path, readSnapshotRaw(spark, path, version))

  /** The PHYSICAL union read, before declared schema evolution — what
    * every internal rewrite path must use: a merge's pinned-schema dir
    * reads under the MAPPED schema would silently NULL a renamed
    * column out of old dirs (the map is a read-time projection, not a
    * physical fact). */
  private def readSnapshotRaw(spark: SparkSession, path: String,
      version: Int): DataFrame =
    readEntriesRaw(spark, path, manifestEntries(spark, path, version))

  /** EXPLICITLY DESTRUCTIVE retention: drop every snapshot manifest
    * older than `keepFrom` and delete any data dir no surviving
    * manifest references. The one operation in this sink that deletes
    * anything — time travel works up to the horizon a deployment pays
    * to keep, and [[compactSnapshots]] before expiry makes the
    * surviving versions cheap (old batch chains become unreferenced
    * and reclaim here). Also sweeps HYGIENE debris: `v<N>.claim`
    * markers with N ≤ the latest published version are provably dead
    * (claims always target past max(published, claimed), so those
    * numbers can never be re-claimed — a crashed claimant's marker
    * would otherwise be listed by every future claim forever), and a
    * deleted compact dir takes its `.absorbed` provenance record with
    * it. Returns the number of data dirs deleted. */
  def expireSnapshots(spark: SparkSession, path: String,
                      keepFrom: Int): Int = {
    val fs = fsFor(spark, path)
    // ONE listing answers every question below.
    val log = SnapLog.listIfSink(fs, path).getOrElse(SnapLog.Listing(Nil))
    val cur = log.latest
    require(keepFrom >= 1 && keepFrom <= cur,
      s"keepFrom must name an existing snapshot (1..$cur), got $keepFrom")
    // PUBLISHED versions only — crashed claims leave holes in the
    // version numbering, so the keep range cannot be assumed dense.
    val allVersions = log.versions
    // dv dirs are referenced THROUGH their entries (merge-on-read):
    // they reclaim with the versions that applied them and must never
    // be deleted while a surviving manifest still anti-joins them.
    def allNames(v: Int) = Protocol.manifestEntries(fs, path, v).flatMap(_.names)
    val referenced = allVersions.filter(_ >= keepFrom)
      .flatMap(allNames).toSet
    val doomedDirs = allVersions.filter(_ < keepFrom)
      .flatMap(allNames).toSet -- referenced
    // Every file an expired version owns — manifest first, then its
    // publish stamp, change record and aggregate coverage markers —
    // that the listing shows.
    val present = log.statuses.map(st => st.getPath.getName -> st.getPath)
      .toMap
    allVersions.filter(_ < keepFrom).flatMap(SnapLog.versionFiles)
      .flatMap(present.get).foreach(fs.delete(_, true))
    Protocol.sweep(fs, path, log, keepFrom)
    doomedDirs.foreach(SnapLog.dropDir(fs, path, _))
    doomedDirs.size
  }

  /** [[expireSnapshots]] with a WALL-CLOCK horizon — "keep 30 days" as
    * one call: drops every version a reader at epoch-ms `tsMs` could no
    * longer see as latest, i.e. keeps [[versionAsOf]]`(tsMs)` and
    * everything above it (the as-of version was still current AT the
    * horizon, so time travel to any instant ≥ `tsMs` keeps working).
    * Resolution uses the `v<N>.meta` publish stamps (mtime fallback for
    * pre-.meta sinks). Versions published out of wall-clock order by
    * reconciliation races are kept whenever their NUMBER is above the
    * as-of answer — conservative, never destroys a readable instant.
    * No version published at or before `tsMs` → nothing expires (a
    * horizon before the sink's birth must not be an error — retention
    * jobs run it blindly). Returns the number of data dirs deleted. */
  def expireSnapshotsOlderThan(spark: SparkSession, path: String,
      tsMs: Long): Int =
    latestAt(spark, path, tsMs).map(expireSnapshots(spark, path, _)).getOrElse(0)

  /** The rows ADDED between two snapshots, diffed by PROVENANCE, not
    * dir name: a `to`-manifest dir is delta only if its provenance is
    * disjoint from `from`'s coverage. Pure repackagings — a
    * [[compactSnapshots]] bin-pack, a full compaction of exactly the
    * `from` lineage, a merge/erase REWRITE of old dirs — are excluded
    * (their rows were already read; the r15 name-diff surfaced a whole
    * compacted corpus as "delta" across every routine pack, which at
    * 100 TB is a full re-read per maintenance cycle). A dir that
    * STRADDLES (a full compaction absorbing post-`from` appends) is
    * still included whole — its covered rows repeat; take deltas
    * between versions on the same side of a full compaction, or diff
    * by key ([[graft.ops.Checksum]]'s snapshot diff). Additions only
    * by contract: rows a merge/erasure REMOVED are not surfaced.
    * `from` = 0 reads everything up to `to`. */
  def readSnapshotDelta(spark: SparkSession, path: String,
                        from: Int, to: Int): DataFrame = {
    require(from >= 0 && to > from, s"need 0 <= from < to, got $from..$to")
    if (from == 0) return readSnapshot(spark, path, to)
    val fs = fsFor(spark, path)
    val fromCov = Protocol.coverage(fs, path, Protocol.manifestDirs(fs, path, from))
    // `to`'s OWN dv sets apply: a row added in the span and already
    // dv-deleted by `to` is not an addition a reader of `to` can see.
    val entries = Protocol.manifestEntries(fs, path, to)
      .filterNot(e => Protocol.provenance(fs, path, e.dir).subsetOf(fromCov))
    if (entries.isEmpty) readSnapshot(spark, path, to).limit(0)
    else applySchemaMap(spark, path, readEntriesRaw(spark, path, entries))
  }

  /** DESCRIBE HISTORY: one row per published version — (version,
    * published_ms, n_dirs, n_rows) — at driver-metadata cost: publish
    * stamps from the `v<N>.meta` sidecars ([[publishedAtMs]]), row
    * counts from the `__rows` stats lines ([[countSnapshot]]; statless
    * dirs degrade that version's row to a per-dir scan). The operator
    * a 100 TB deployment points its dashboards at — no executor work
    * on the sidecar path. */
  def snapshotHistory(spark: SparkSession, path: String): DataFrame = {
    val log = sinkListing(spark, path)
    import spark.implicits._
    // The scanned-dirs audit must cover EVERY version's count, not just
    // the final loop iteration's (countSnapshot resets the slot per
    // call) — otherwise "history counted from sidecars alone" asserts
    // only the newest version and an earlier one silently falling back
    // to a scan would pass.
    val scannedUnion = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = log.versions.sorted
      .map { v =>
        val r = (v, publishedAtMs(spark, path, v),
          manifestEntries(spark, path, v).size, countSnapshot(spark, path, v))
        scannedUnion ++= lastCountScanned.get()
        r
      }
    lastCountScanned.set(scannedUnion.distinct.toSeq)
    rows.toDF("version", "published_ms", "n_dirs", "n_rows")
  }

  // ── write-time CDC change records ───────────────────────────────
  // Each publish MAY record its own exact change set against its BASE
  // version, making [[snapshotChanges]] O(changes) over ANY version
  // span whose records chain — including across a full compaction,
  // where the key-diff degrades to a join of two full corpora. Layout
  // (all under `_snapshots`, invisible to data readers and the vacuum
  // sweep):
  //   v<N>.changes.meta — tiny text: record kind (append|delta|none),
  //     the BASE version the record diffs against, and (append, delta)
  //     the LANDING dir: the version's new rows, published by the
  //     version itself. Written LAST: its presence commits the record.
  //   v<N>.changes      — (kind delta only) parquet dir of the
  //     PRE-IMAGES: the rows the version deleted or replaced, as they
  //     were at the base. Composition diffs a span's endpoints from
  //     them.
  // Neither side copies data the version already holds: an append (a
  // publish, or a merge that replaced no row) costs one small file; a
  // merge writes only its pre-images, which its classify pass already
  // holds. Pure repackagings (compaction, bin-pack) record `none`.
  // Records are BEST-EFFORT: a publish that was healed, carried, or
  // interleaved skips its record (describing what actually landed
  // would need the reconcile's full state), and any missing/broken
  // link degrades the feed to the key-diff — never to a wrong answer.
  // The recorded base version is what makes composition safe under
  // racing writers: a version published into the span out of claim
  // order breaks the chain (base mismatch) and the feed falls back
  // rather than composing against the wrong predecessor.

  /** A version's change record: its base, the landing dir holding its
    * new rows (None for a repackaging), and whether `v<N>.changes`
    * holds pre-images. */
  private final case class ChangeRecord(base: Int, landing: Option[String],
      pre: Boolean)

  private def writeChangeMeta(fs: org.apache.hadoop.fs.FileSystem,
      path: String, version: Int, kind: String, base: Int,
      dir: Option[String]): Unit =
    try SnapLog.writeText(fs, SnapLog.changesMeta(path, version),
      s"kind\t$kind\nbase\t$base" + dir.map(d => s"\ndir\t$d").getOrElse(""))
    catch { case scala.util.control.NonFatal(e) => skipped(
      s"change record meta of v$version at $path (the feed key-diffs it)", e) }

  /** The record of `version`; None when it has none, or one of another
    * layout (the feed key-diffs it). */
  private def readChangeRecord(spark: SparkSession, path: String,
      version: Int): Option[ChangeRecord] =
    try SnapLog.readLinesIfExists(fsFor(spark, path),
        SnapLog.changesMeta(path, version)).flatMap { lines =>
      val m = lines.filter(_.nonEmpty)
        .map { l => val a = l.split("\t", 2); a(0) -> a(1) }.toMap
      val base = m("base").toInt
      m("kind") match {
        case "append" => m.get("dir").map(d => ChangeRecord(base, Some(d), pre = false))
        case "delta" => m.get("dir").map(d => ChangeRecord(base, Some(d), pre = true))
        case "none" => Some(ChangeRecord(base, None, pre = false))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(e) => skipped(
      s"reading change record of v$version at $path (key-diffed)", e); None }

  /** Reserved internal columns of a composed record; a sink whose DATA
    * schema uses one of these names simply never records (feed falls
    * back to the key-diff — degradation, not corruption). */
  private val ChangeRecCols = Set("__pre", "__v")

  /** Persist a merge's pre-images `pre` (the live rows its touched keys
    * matched, from the classify checkpoint) as `v<version>.changes` in
    * ONE write job, and commit the record naming `landingDir` as its
    * new side. */
  private def writeMergeChangeRecord(spark: SparkSession, path: String,
      version: Int, base: Int, pre: DataFrame, landingDir: String,
      genAtCommit: String): Unit =
    try labeled(spark, "graft.changeRecord") {
      val fs = fsFor(spark, path)
      // Cheap pre-check (the locked re-validation below is the
      // guarantee): if history was already rewritten since the commit,
      // don't stage the pre-images on disk at all.
      if (Protocol.rewriteGen(fs, path) != genAtCommit) return
      pre.write.mode("overwrite")
        .parquet(SnapLog.changesDir(path, version).toString)
      // The meta file is the record's COMMIT POINT, and this write
      // runs AFTER the merge's lock released (a data job must not run
      // under the metadata-only critical section). An eraseKeys that
      // completed inside that window swept every `.changes` file and
      // advanced the rewrite generation — publishing the meta now
      // would re-persist the erased subject's pre-images "after the
      // data is gone" and serve them to any span composed from this
      // record. So the TINY meta publish takes the rewriter lock and
      // re-validates the generation first; any mismatch abandons the
      // record: the feed degrades to the key-diff, it never lies.
      // The acquisition RETRIES briefly: the common contender is a
      // rival merge's own short metadata-only critical section, which
      // never invalidates this record — giving up on the first
      // collision systematically degraded every contended span's feed
      // to the corpus-scale key-diff. An erasure holding the lock is
      // caught by the gen re-check after acquisition either way; only
      // a persistent holder (crashed rewriter) exhausts the budget.
      var keep: Option[Boolean] = None
      var tries = 0
      while (keep.isEmpty) {
        try keep = Some(SnapLog.withRewriterLock(fs, path,
          "mergeChangeRecord")(Protocol.rewriteGen(fs, path) == genAtCommit))
        catch {
          case e: LockHeldException =>
            tries += 1
            if (tries >= 10) throw e // outer catch deletes the dir
            Thread.sleep(100L * tries)
        }
      }
      if (keep.get)
        writeChangeMeta(fs, path, version, "delta", base, Some(landingDir))
      else fs.delete(SnapLog.changesDir(path, version), true)
    } catch {
      case scala.util.control.NonFatal(e) =>
        skipped(s"change record of v$version at $path (key-diffed)", e)
        // Never leave an uncommitted record dir: an erasure's sweep
        // keys off `.changes` names, and debris under _snapshots is
        // invisible to the vacuum. Best-effort, like the record.
        try fsFor(spark, path).delete(SnapLog.changesDir(path, version), true)
        catch { case scala.util.control.NonFatal(e2) => skipped(
          s"deleting uncommitted change record of v$version at $path", e2) }
    }

  /** Test/ops audit of the last [[snapshotChanges]] path:
    * `"recorded:v,v,…"` (composed from write-time records — no version
    * scan) or `"keydiff"` (the exact full-outer diff). */
  private[graft] val lastChangesMode =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Compose the span's write-time change records into the exact
    * endpoint diff. None ⇒ the chain is unusable (a version lacks a
    * record, a base link mismatches, a referenced dir is gone, or a
    * reserved column collides) and the caller falls back to the
    * key-diff. Per key over the unioned records: the FIRST version's
    * pre-image tells whether — and with which values — the key existed
    * at `from`; the LAST version's landing row tells whether it exists
    * at `to`; the endpoint compare drops no-op chains (U back to the
    * original value, delete-then-reinsert of the same row) exactly like
    * the key-diff. Cost: a read of the record and landing dirs
    * (O(changes)) + one key shuffle — never the corpus. */
  private def composeRecordedChanges(spark: SparkSession, path: String,
      from: Int, to: Int, keys: Seq[String],
      opCol: String, preImages: Boolean = false): Option[DataFrame] =
    try {
      val fs = fsFor(spark, path)
      val published = SnapLog.list(fs, path).versions
        .filter(v => v > from && v <= to).sorted
      if (published.isEmpty) return None
      val chain = published.map(v => v -> readChangeRecord(spark, path, v))
      if (chain.exists(_._2.isEmpty)) return None
      var prev = from
      for ((v, r) <- chain) {
        if (r.get.base != prev) return None
        prev = v
      }
      // Schema map applied PER FRAME, before the union: records and
      // landing dirs carry PHYSICAL column names frozen at their write
      // time (a merge's pre-images use the then-raw snapshot schema),
      // so a feed spanning a renameColumn would otherwise emit dead
      // physical columns with spurious NULLs — diverging from the
      // key-diff path and from every mapped read surface.
      val frames: Seq[DataFrame] = chain.flatMap { case (v, rec) =>
        val r = rec.get
        val sides = r.landing.map(d => new org.apache.hadoop.fs.Path(path, d) -> false) ++
          (if (r.pre) Some(SnapLog.changesDir(path, v) -> true) else None)
        sides.map { case (p, isPre) =>
          if (!fs.exists(p)) return None
          val df = applySchemaMap(spark, path, readDirs(spark, Seq(p.toString)))
          if (df.columns.exists(ChangeRecCols)) return None
          df.withColumn("__pre", lit(isPre)).withColumn("__v", lit(v))
        }
      }
      lastChangesMode.set(s"recorded:${published.mkString(",")}")
      lastDiffDirs.set((Nil, Nil))
      if (frames.isEmpty) {
        // Pure repackagings across the whole span: an EMPTY feed in
        // the to-version's shape.
        val base = readSnapshot(spark, path, to).limit(0)
        val cs = base.columns.filterNot(keys.contains).toSeq
        return Some(base.withColumn(opCol, lit("I"))
          .select((col(opCol) +: keys.map(col)) ++ cs.map(col): _*))
      }
      // The span's endpoints per key: the OLD side is the first
      // version's pre-image — the key's row at `from`, if it had one;
      // the NEW side is the last version's landing row — the key's row
      // at `to`. The key-diff of the two sides drops no-op chains
      // exactly like the full key-diff.
      val rec = frames.reduce(_.unionByName(_, allowMissingColumns = true))
      val w = Window.partitionBy(keys.map(col): _*)
      val enriched = rec.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .withColumn("__minv", min(col("__v")).over(w))
        .withColumn("__maxv", max(col("__v")).over(w))
      val internal = Seq("__pre", "__v", "__minv", "__maxv")
      Some(keyDiff(
        enriched.filter(col("__v") === col("__minv") && col("__pre"))
          .drop(internal: _*),
        enriched.filter(col("__v") === col("__maxv") && !col("__pre"))
          .drop(internal: _*),
        keys, opCol, preImages))
    } catch { case scala.util.control.NonFatal(e) => skipped(
      s"composing change records $from..$to at $path (key-diffed)", e); None }

  /** The exact diff of an OLD and a NEW side holding at most one row
    * per key each — the one diff behind both change-feed paths:
    * `op` = I (key only new, new values), D (key only old, OLD values —
    * the consumer needs what to delete), U (key on both with any
    * non-key column differing null-safely, new values); unchanged keys
    * produce no row, NULL-keyed rows are excluded, and a column one
    * side lacks compares as NULL there. `preImages` adds a `UP` row
    * with the old values per U key. */
  private def keyDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], opCol: String, preImages: Boolean): DataFrame = {
    val cols = (oldDf.columns ++ newDf.columns).distinct
      .filterNot(keys.contains).toSeq
    // A DATA column named like the op column would make the final
    // select emit two `op` columns (the computed op next to the
    // renamed-back data column) — ambiguous for every downstream
    // consumer. Refuse loudly; the caller picks a free name.
    require(!cols.contains(opCol) && !keys.contains(opCol),
      s"snapshotChanges: the sink already has a column named '$opCol' — " +
        "pass a different opCol")
    def prep(df: DataFrame, marker: String, prefix: String) = {
      val withMissing = cols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
      val nn = keys.map(col(_).isNotNull).reduce(_ && _)
      cols.foldLeft(withMissing.filter(nn).withColumn(marker, lit(true)))(
        (d, c) => d.withColumnRenamed(c, prefix + c))
    }
    val o = prep(oldDf, "__o_present", "__o_")
    val n = prep(newDf, "__n_present", "__n_")
    val same = cols.map(c => comparable(o, s"__o_$c") <=>
        comparable(n, s"__n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val op = when(col("__o_present").isNull, "I")
      .when(col("__n_present").isNull, "D")
      .when(!same, "U")
    val joined = o.join(n, keys, "full_outer")
      .withColumn(opCol, op)
      .filter(col(opCol).isNotNull)
    val base = joined
      .select((col(opCol) +: keys.map(col)) ++
        cols.map(c => when(col(opCol) === "D", col(s"__o_$c"))
          .otherwise(col(s"__n_$c")).as(c)): _*)
    if (!preImages) base
    else base.unionByName(joined.filter(col(opCol) === "U")
      .select((lit("UP").as(opCol) +: keys.map(col)) ++
        cols.map(c => col(s"__o_$c").as(c)): _*))
  }

  /** Column `name` of `df` in a form `<=>` can compare: Spark orders
    * no map type, so every map inside it becomes its entry array
    * sorted by key (keys are unique: equal maps, equal arrays). */
  private def comparable(df: DataFrame, name: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case ArrayType(et, _) => hasMap(et)
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    def canon(c: Column, dt: DataType): Column = dt match {
      case _ if !hasMap(dt) => c
      case MapType(_, vt, _) => array_sort(transform(map_entries(c), e =>
        struct(e("key").as("key"), canon(e("value"), vt).as("value"))))
      case ArrayType(et, _) => transform(c, canon(_, et))
      case st: StructType => when(c.isNotNull, struct(st.fields.toIndexedSeq
        .map(f => canon(c(f.name), f.dataType).as(f.name)): _*))
    }
    canon(col(name), df.schema(name).dataType)
  }

  /** Audit: the (from-only, to-only) dir lists the last
    * [[snapshotChanges]] actually read — spec hook for the
    * shared-dir pruning, not operator contract. */
  private[graft] val lastDiffDirs =
    new java.util.concurrent.atomic.AtomicReference[(Seq[String], Seq[String])]((Nil, Nil))

  /** CHANGE FEED between two snapshot versions — the exact row-level
    * I/U/D set a CDC consumer needs (Delta CDF's read side, derived by
    * KEY DIFF rather than stored change files, so it works across any
    * mix of appends, merges, compactions and even erasures):
    * `op` = I (key only in `to`, new values), D (key only in `from`,
    * OLD values — the consumer needs what to delete), U (key in both
    * with any non-key column differing null-safely, new values).
    * Unchanged keys produce no row. Unlike [[readSnapshotDelta]]
    * (additions-only at new-dirs cost), this is the EXACT diff and
    * costs what a diff costs: two version scans + one key shuffle —
    * the same shape as one sort-merge join, no per-version history
    * walk, so diffing a 100 TB sink is one join job, not a replay.
    * Schema-evolved columns compare as NULL on the side that lacks
    * them (an added column makes a row U only if some `to` value is
    * non-null). NULL-keyed rows are excluded (the sink's key ops are
    * null-rejecting; a NULL key cannot be addressed by any consumer
    * merge either). */
  def snapshotChanges(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int, keys: Seq[String],
      opCol: String = "op"): DataFrame =
    snapshotChangesImpl(spark, path, fromVersion, toVersion, keys, opCol,
      preImages = false)

  /** [[snapshotChanges]] with UPDATE PRE-IMAGES (Delta CDF's
    * update_preimage convention): each U key emits TWO rows — `U` with
    * the new values and `UP` with the values it replaced. The extra row
    * is what makes a downstream aggregate exactly maintainable from
    * the feed alone (subtract the UP/D side, add the I/U side) — with
    * post-images only, an update's group delta is underdetermined. */
  def snapshotChangesWithPreImages(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int, keys: Seq[String],
      opCol: String = "op"): DataFrame =
    snapshotChangesImpl(spark, path, fromVersion, toVersion, keys, opCol,
      preImages = true)

  private def snapshotChangesImpl(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int, keys: Seq[String],
      opCol: String, preImages: Boolean): DataFrame =
      labeled(spark, "graft.changes") {
    require(fromVersion >= 1 && toVersion >= 1,
      s"need published versions, got $fromVersion..$toVersion")
    // BOTH endpoints must exist before any path runs: the composed
    // path's chain walk covers only (from, to∩published] and would
    // otherwise answer a typo'd too-high `to` with a plausible-looking
    // SHORTER span's diff instead of the key-diff's loud failure.
    val efs = fsFor(spark, path)
    Seq(fromVersion, toVersion).foreach { v =>
      require(Protocol.isPublished(efs, path, v), s"no snapshot v$v at $path")
    }
    // RECORDED fast path: when every published version in the span
    // carries a write-time change record whose base chains to its
    // predecessor, compose the records — O(changes) however the span
    // was produced, INCLUDING across a full compaction (where the
    // key-diff below degrades to reading both full sides). Reverse
    // spans and any chain break fall through to the exact key-diff.
    if (toVersion > fromVersion)
      composeRecordedChanges(spark, path, fromVersion, toVersion,
        keys, opCol, preImages) match {
        case Some(df) => return df
        case None => ()
      }
    lastChangesMode.set("keydiff")
    // SHARED-DIR pruning: a dir referenced by BOTH manifests feeds
    // identical rows to both sides, and the sink invariant (each key
    // in at most one dir per version) means such a key's row pair is
    // exactly that shared copy twice — unchanged by construction. So
    // the diff needs only the SYMMETRIC DIFFERENCE of the manifests:
    // after a trickle merge the feed reads the touched/landing dirs,
    // not the carried corpus. (A full compaction renames everything —
    // the diff degrades to both full sides and correctly emits
    // nothing; take feeds between versions on the same side of a full
    // rewrite, as with [[readSnapshotDelta]].) Columns living only in
    // shared dirs belong to rows that cannot change and drop out of
    // the compare unharmed.
    // ENTRY-level sharing (dir + dv set): a merge-on-read delete
    // changes a dir's entry without renaming it — name-level sharing
    // would exclude the dir from both sides and silently drop the
    // dv-deleted keys from the diff.
    val fromEntries = manifestEntries(spark, path, fromVersion)
    val toEntries = manifestEntries(spark, path, toVersion)
    val shared = fromEntries.toSet & toEntries.toSet
    val oldOnly = fromEntries.filterNot(shared)
    val newOnly = toEntries.filterNot(shared)
    lastDiffDirs.set((oldOnly.map(_.dir), newOnly.map(_.dir)))
    // Mapped like every other read surface: a feed spanning a
    // renameColumn must diff (and emit) LOGICAL columns, or the old
    // and new physical names compare as two half-NULL columns and
    // every renamed row surfaces as a spurious U.
    def readDirs(es: Seq[SnapEntry]) =
      if (es.isEmpty) readSnapshot(spark, path, toVersion).limit(0)
      else applySchemaMap(spark, path, readEntriesRaw(spark, path, es))
    keyDiff(readDirs(oldOnly), readDirs(newOnly), keys, opCol, preImages)
  }

  /** Hygiene sweep for ORPHANED data dirs, OFFLINE form: deletes every
    * top-level data dir absent from ALL published manifests with no
    * grace window. An in-flight APPENDER or lock-free rewriter has
    * written dirs but not yet its manifest — exactly the orphan
    * signature — so this zero-grace form is safe only while no writers
    * are active (the same operational class as a quiesced
    * [[eraseKeys]]). For a LIVE fleet use the graced overload. */
  def vacuumOrphans(spark: SparkSession, path: String): Int =
    vacuumOrphans(spark, path, 0L)

  /** Reclaim data dirs referenced by NO published manifest — the leak
    * [[expireSnapshots]] cannot see (it computes doomed dirs from
    * expired manifests, and a never-published dir is in none). The
    * lock-free rewrite discipline is exactly what creates them: a merge
    * or compaction that CRASHES after its claim-named rewrites
    * (`<dir>-m<v>`, `compact-<v>`, `batch-<v>`, `merge-<v>`, …) but
    * before its publish leaves rewrite-sized dirs nothing will ever
    * reference or delete — at the 100 TB design point with a writer
    * fleet, an unbounded storage leak.
    *
    * `minAgeMs` is the GRACE WINDOW that distinguishes a crash's debris
    * from an in-flight writer's not-yet-published dirs: only dirs whose
    * NEWEST content mtime (the dir entry and its files — a rewrite
    * still receiving part files is young by construction) is older than
    * the window are reclaimed. The operator contract is the same as
    * Delta VACUUM's retention horizon: `minAgeMs` MUST exceed the
    * longest rewrite-plus-publish any writer runs, or the sweep can
    * eat a slow writer's pending dirs (its publish would then reference
    * deleted data). A listing failure on a candidate counts as "young"
    * — never delete blind. Holds the rewriter lock for the scan +
    * deletes (metadata cost), so the manifest set cannot move under the
    * sweep; rewriters' lock-free phases are unaffected and their short
    * critical sections just queue behind it. Returns dirs reclaimed. */
  def vacuumOrphans(spark: SparkSession, path: String,
      minAgeMs: Long): Int = {
    val fs = fsFor(spark, path)
    // Before the lock: on a path with no `_snapshots` dir the lock's
    // create would fail as a misleading LockHeldException. A sink whose
    // first writer crashed (a log, no manifest) stays vacuumable.
    require(SnapLog.isSink(fs, path), s"no snapshot sink at $path")
    SnapLog.withRewriterLock(fs, path, "vacuumOrphans") {
      // Entries, not dirs: a live merge-on-read dv swept as an
      // "orphan" would resurrect every row it deletes.
      val referenced = SnapLog.list(fs, path).versions
        .flatMap(v => Protocol.manifestEntries(fs, path, v).flatMap(_.names)).toSet
      sweepUnreferencedDirs(fs, path, referenced, minAgeMs).size
    }
  }

  /** Newest modification time under `st` — RECURSIVE: Spark streams
    * part files into nested `_temporary/<attempt>` dirs whose
    * top-level entries' mtimes go stale while data still lands levels
    * deeper, so a one-level check would age-out an IN-FLIGHT rewrite
    * and the grace window would not actually protect it. A listing
    * failure reports "young" — never delete blind. */
  private def newestMtimeRecursive(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long =
    try {
      var newest = st.getModificationTime
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext)
        newest = math.max(newest, it.next().getModificationTime)
      newest
    } catch { case scala.util.control.NonFatal(e) =>
      skipped(s"listing ${st.getPath} (young: not swept)", e); Long.MaxValue }

  /** Delete every top-level data dir absent from `referenced` whose
    * newest content mtime is older than `graceMs` (≤ 0 sweeps
    * unconditionally — the quiesced-writers contract). The ONE sweep
    * implementation behind [[vacuumOrphans]] and [[eraseKeys]]'
    * subject-byte pass — the grace logic is subtle enough that two
    * copies would silently diverge. */
  private def sweepUnreferencedDirs(fs: org.apache.hadoop.fs.FileSystem,
      path: String, referenced: Set[String], graceMs: Long): Seq[String] = {
    val now = System.currentTimeMillis()
    val doomed = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .toSeq.filter(_.isDirectory)
      // ALL underscore-prefixed paths are exempt, not just _snapshots:
      // they are the Spark/Hadoop hidden-path convention (invisible to
      // every reader) and legitimately unreferenced — _consumer change
      // cursors, in-flight _temporary trees. Sweeping a consumer's
      // cursor dir would silently reset its feed to the initial
      // snapshot.
      .filterNot(st => st.getPath.getName.startsWith("_"))
      .filterNot(st => referenced(st.getPath.getName))
      .filter(st => graceMs <= 0L ||
        now - newestMtimeRecursive(fs, st) >= graceMs)
      .map(_.getPath.getName)
    doomed.foreach(SnapLog.dropDir(fs, path, _))
    doomed
  }

  /** Test hook: runs between an erasure's (lock-free) rewrites and its
    * lock acquisition — the erase twin of [[mergePreLockHook]]. */
  private[graft] var erasePreLockHook: () => Unit = () => ()

  /** RIGHT-TO-BE-FORGOTTEN erasure: physically remove every row
    * matching `doomed`'s keys from EVERY version of the snapshot sink —
    * history included, which is the point: after this, no time-travel
    * read, delta read, or compaction can surface the subject again.
    * The destructive counterpart of the Privacy audits (they measure
    * structural leakage; this removes the subject).
    *
    * ONLINE against the writer fleet, with the merge/compaction
    * discipline: every dir holding a doomed key is rewritten
    * `<dir>-e<epoch>` (minus those keys, `.absorbed` provenance
    * preserved) LOCK-FREE; only the commit — staleness re-validation,
    * manifest repoints, original deletes, all metadata — holds the
    * exclusive rewriter lock. A rewriter racing the lock-free phase is
    * caught by the post-lock re-validation (its outputs are new
    * candidate dirs; the erase loops and processes them); a rewriter
    * racing the COMMIT sees its own staleness check fail (the repoints
    * replace dirs in the latest manifest) and retries off the
    * repointed truth. Version numbers and counts are unchanged:
    * erasure edits history in place rather than appending (an append
    * would leave the subject readable at older versions).
    *
    * APPENDERS (lock-free by design) are handled by a claim wait + a
    * repoint fixpoint: before deleting originals the commit waits out
    * fresh `v<N>.claim` markers (an in-flight appender may have read a
    * pre-repoint manifest) and re-repoints any manifest that appears
    * still referencing an original, until a listing pass is clean.
    * The residual window — an appender stalled longer than the wait
    * inside its claim→publish gap — leaves its manifest referencing a
    * deleted dir; pause appends during erasure for a strict guarantee
    * (rewriter-class ops need no pause). Manifest repointing is
    * delete+rename per version — a concurrent READER of that exact
    * version can catch the gap and should retry; the latest-version
    * read path re-resolves and is safe.
    *
    * `orphanGraceMs`: unreferenced dirs may hold the subject's bytes
    * too, so the commit sweeps orphans — but against a LIVE fleet an
    * in-flight rewrite looks exactly like an orphan, so only dirs
    * older than the grace are swept (same contract as
    * [[vacuumOrphans]]; 0 sweeps everything and implies quiesced
    * writers). Returns the number of rows erased. */
  def eraseKeys(spark: SparkSession, path: String, doomed: DataFrame,
                keys: Seq[String], orphanGraceMs: Long = 0L): Long =
      labeled(spark, "graft.erase") {
    val fs = fsFor(spark, path)
    require(latestVersion(spark, path) >= 1,
      s"no snapshot to erase from at $path")
    val keyRows = doomed.select(keys.map(col): _*).distinct()
      .localCheckpoint()
    // One bounded collect gives ranges + bloom canons for every prune
    // in the erase loop (the probe never changes across attempts).
    val (doomedPr, doomedCanons, _) = probeFacts(keyRows, keys)
    def listVersions(): Seq[(Int, Seq[SnapEntry])] =
      SnapLog.list(fs, path).versions
        .sorted.map(v => v -> Protocol.manifestEntries(fs, path, v))
    // The erase universe includes merge-on-read DV DIRS: a dv holds the
    // subject's KEY VALUES (a record that the subject existed) — "the
    // data is gone" covers them. A dv rewrite minus the doomed keys is
    // consistent: the matching data rows are physically erased in the
    // same commit, so their tombstones have nothing left to hide.
    // Probes and rewrites treat them exactly like data dirs (their
    // schema IS the key columns); the erased-row count excludes them
    // (a tombstone is not a data row).
    val dvNames = scala.collection.mutable.Set.empty[String]
    def namesOf(es: Seq[SnapEntry]): Seq[String] = {
      es.foreach(e => dvNames ++= e.dvs)
      es.flatMap(_.names).distinct
    }
    // dir → (rewrite name if it held doomed keys, rows hit). Probed
    // dirs are immutable, so results carry across retries.
    val processed =
      scala.collection.mutable.LinkedHashMap.empty[String, (Option[String], Long)]
    def cleanupRewrites(): Unit =
      processed.values.foreach(_._1.foreach(SnapLog.dropDir(fs, path, _)))
    // NOTE the claim markers from each attempt STAY on disk: they are
    // what keeps each epoch unique across every past and concurrent
    // operation (deleting one would let the next claimant reuse the
    // number — colliding `-e<epoch>` dir names and, worse, the
    // `gen-<epoch>.touch` marker, silently losing a generation bump).
    // One skipped version number per attempt, by construction;
    // [[expireSnapshots]] sweeps them once later publishes pass. Each
    // is marked SPENT ([[Protocol.retireClaim]]) as soon as it is taken, so the
    // claim wait below — this erase's and every later one's — never
    // mistakes an erase epoch for an in-flight appender.
    var attempts = 0
    while (attempts < 7) {
        // ── Phase 1, LOCK-FREE: probe + rewrite new candidates ──────
        // A claimed (never-published) version number makes each
        // attempt's epoch unique across every concurrent operation
        // with zero new state formats (two racing erasures must not
        // write the same `-e` name).
        val epoch = Protocol.claimVersion(fs, path)
        Protocol.retireClaim(fs, path, epoch)
        val perVersion = listVersions()
        val allDirs = namesOf(perVersion.flatMap(_._2))
        val candidates = pruneDirs(spark, path,
          allDirs.filterNot(processed.contains), doomedPr, doomedCanons)
        // Bounded hit PROBE (pushed bounding box + semi join) of every
        // candidate in ONE grouped pass decides which dirs rewrite, and
        // counts their erased rows.
        val hits =
          if (candidates.isEmpty) Map.empty[String, Long]
          else labeled(spark, "graft.erase classify")(dirCounts(
            balancedUnion(candidates.map { d =>
              val df = readDirs(spark, Seq(s"$path/$d"))
              probeRangeFilter(df.schema, doomedPr).map(df.filter).getOrElse(df)
                .join(keyRows, keys, "left_semi").select(lit(d).as("__dir"))
            })))
        candidates.foreach { d =>
          val hit = hits.getOrElse(d, 0L)
          if (hit == 0) processed(d) = (None, 0L)
          else {
            val rw = s"$d-e$epoch"
            val statKeys0 = Sidecars.keyCols(fs, path)
            writeDirWithStats(spark, path, rw,
              readDirs(spark, Seq(s"$path/$d")).join(keyRows, keys, "left_anti"),
              if (statKeys0.nonEmpty) statKeys0 else keys,
              keyBound = Sidecars.stats(fs, path, d).flatMap(_.rows))
            Protocol.writeAbsorbed(fs, path, rw, Protocol.provenance(fs, path, d))
            processed(d) = (Some(rw), hit)
          }
        }
        erasePreLockHook()
        // ── Phase 2, LOCKED: validate + metadata commit ─────────────
        var done = false
        var erased = 0L
        SnapLog.withRewriterLock(fs, path, "eraseKeys", cleanupRewrites _) {
          val perVersionNow = listVersions()
          val liveDirs = namesOf(perVersionNow.flatMap(_._2))
          val liveSet = liveDirs.toSet
          // A rewriter replaced a processed original: our rewrite of
          // it is junk (the replacement shows up as a new candidate).
          val stale = processed.keys.filterNot(liveSet).toList
          stale.foreach { d =>
            processed(d)._1.foreach(SnapLog.dropDir(fs, path, _))
            processed.remove(d)
          }
          val newWork = pruneDirs(spark, path,
            liveDirs.filterNot(processed.contains), doomedPr, doomedCanons)
          if (newWork.isEmpty) {
            val renames = processed.collect {
              case (d, (Some(rw), _)) => d -> rw }.toMap
            erased = processed.collect {
              case (d, (Some(_), h)) if !dvNames.contains(d) => h }.sum
            if (renames.nonEmpty) {
              Protocol.touchRewriteGen(fs, path, epoch)
              Protocol.touchEraseGen(fs, path, epoch)
              Protocol.repoint(fs, path, perVersionNow, renames)
              // Claim wait: an appender inside claim→publish read a
              // pre-repoint manifest and may publish dirs we are about
              // to delete; its manifest then hits the fixpoint below.
              Protocol.awaitAppenders(fs, path)
              // Fixpoint: repoint manifests published since (or missed)
              // until a listing pass references no original.
              var fix = 0
              while (Protocol.repoint(fs, path, listVersions(), renames) &&
                fix < 20) fix += 1
              if (fix >= 20) throw new IllegalStateException(
                s"eraseKeys: manifests kept re-referencing pre-erase " +
                  s"dirs at $path — appender storm; originals left in " +
                  "place (sink consistent, subject NOT yet erased); " +
                  "quiesce appends and rerun")
              // Per-dir profiles survive erasure BY CONSTRUCTION
              // (rewrites were stamped fresh ones; deleted dirs lose
              // theirs below) — only the change records are swept:
              // their D/update-pre rows hold PRE-IMAGES, possibly the
              // subject's ("the data is gone" covers them; the feed
              // falls back to the key-diff over erased content).
              SnapLog.list(fs, path).changeRecords.foreach(fs.delete(_, true))
              // Physical deletion LAST, after every manifest stopped
              // referencing the originals: a crash before this point
              // leaves a consistent (partially repointed) sink plus
              // extra copies to re-erase; a crash after never dangles.
              renames.keys.foreach(SnapLog.dropDir(fs, path, _))
            }
            // Orphan sweep: unreferenced dirs may hold subject bytes.
            // Grace-filtered against a live fleet (an in-flight rewrite
            // looks exactly like an orphan); 0 = quiesced contract.
            sweepUnreferencedDirs(fs, path,
              namesOf(listVersions().flatMap(_._2)).toSet, orphanGraceMs)
            done = true
          }
        }
        if (done) {
          lastProbedDirs.set(processed.keys.toSeq)
          return erased
        }
        attempts += 1
      }
      cleanupRewrites()
      throw new IllegalStateException(
        s"eraseKeys: new rewrites kept appearing under us 7 times at " +
          s"$path — rewriter storm; retry when merges/compactions quiesce")
  }

  // ── incremental aggregate maintenance ───────────────────────────

  /** Coverage marker payload (`v<N>.src` of [[refreshAggregate]],
    * `v<N>.feed` of [[refreshAggregateFromFeed]]): covered source
    * version + a source fingerprint at counting time. A fingerprint
    * mismatch — or a marker with no fingerprint line — means the
    * counted rows cannot be vouched for: the owner recomputes. */
  private def readCoverageMarker(spark: SparkSession, aggPath: String,
      m: org.apache.hadoop.fs.Path): (Int, Option[String]) =
    SnapLog.readLinesIfExists(fsFor(spark, aggPath), m) match {
      case None => (0, None)
      // Try-guarded: a crash-truncated or corrupted first line must
      // read as UNKNOWN coverage — (0, None) — which the refresh
      // answers with a recompute, the design's degrade. A bare .toInt
      // here threw NumberFormatException from every later refresh on
      // this aggregate forever (until the marker was hand-deleted).
      case Some(lines) =>
        (lines.headOption.flatMap(h =>
            scala.util.Try(h.trim.toInt).toOption).getOrElse(0),
          lines.drop(1).headOption.map(_.trim).filter(_.nonEmpty))
    }

  private def writeCoverageMarker(spark: SparkSession, aggPath: String,
      m: org.apache.hadoop.fs.Path, srcVersion: Int, gen: String): Unit = {
    val fs = fsFor(spark, aggPath)
    // tmp + rename: the marker is read by every later refresh, so a
    // crash mid-write must leave either the old marker or none (both
    // degrade to recompute), never a truncated line. The delete→rename
    // window reads as "no marker" — same safe degrade. A filesystem
    // refusing the rename (already-exists race) leaves the marker
    // absent → recompute; the tmp is dropped.
    if (!SnapLog.install(fs, m, s"$srcVersion\n$gen", replace = true))
      fs.delete(SnapLog.tmpOf(m), false)
  }

  /** NULL group keys are REFUSED, loudly, riding the aggregate output
    * (group-count rows, zero extra scans): mergeSnapshot's key joins
    * are null-rejecting, so an incremental refresh could never update
    * or delete a NULL group — it would append a fresh row NEXT TO the
    * stale one, silently duplicating the group forever. Coalesce group
    * columns to a sentinel upstream when NULL groups are meaningful.
    * The ONE guard behind both aggregate maintainers. */
  private def refuseNullGroups(df: DataFrame, groupCols: Seq[String],
      op: String): DataFrame =
    groupCols.foldLeft(df) { (d, k) =>
      d.withColumn(k, when(col(k).isNull, raise_error(lit(
        s"$op: NULL in group column '$k' — the aggregate sink's key " +
          "joins are null-rejecting, so a NULL group can never be " +
          "updated or deleted; coalesce to a sentinel upstream"))
        .cast(df.schema(k).dataType))
        .otherwise(col(k)))
    }

  /** Test/ops audit of the last [[refreshAggregate]]: `"noop"`,
    * `"recompute"`, or `"incremental:<dir,dir,…>"` naming exactly the
    * source dirs the delta read opened. */
  private[graft] val lastRefresh =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** INCREMENTAL MATERIALIZED AGGREGATE: bring the grouped-aggregate
    * snapshot at `aggPath` (per `groupCols`: row count `n` + exact
    * decimal `sum_v` of `valueCol`) up to date with the APPEND-ONLY
    * source snapshot at `srcPath`, reading ONLY the source versions the
    * aggregate hasn't seen. Each refresh publishes one aggregate
    * version via the copy-on-write merge — U rows for the groups the
    * delta touched, nothing else rewrites — and records the covered
    * source version in a `v<N>.src` marker next to the manifest.
    *
    * The 100 TB point: a refresh costs (delta scan + one group
    * shuffle + a merge that rewrites only touched-group dirs), never a
    * full recompute of the source — the materialized-view maintenance
    * loop a warehouse runs continuously. Returns the published agg
    * version (or the current one when already up to date).
    *
    * Exactly-once arithmetic across crashes: the marker is written
    * AFTER its version publishes, so the only bad window leaves a
    * published version with no marker, which the next refresh reads as
    * "coverage unknown" and answers with a recompute from the FULL
    * source (idempotent in content), never double-adds a
    * delta. Deltas are additionally validated for PURITY before use:
    * a dir renamed out of the manifest (merge/erasure rewrite) or a
    * new dir whose provenance overlaps the covered coverage (reconcile
    * rewrite, compaction) means the name diff is not an append — the
    * refresh detects it and recomputes instead of double-counting.
    * Sums are exact decimals (DECIMAL(28,6) over the cast input), so
    * increment-then-read equals recompute bit-for-bit. */
  def refreshAggregate(spark: SparkSession, srcPath: String,
                       aggPath: String, groupCols: Seq[String],
                       valueCol: String): Int =
      labeled(spark, "graft.refreshAgg") {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val srcLatest = latestVersion(spark, srcPath)
    require(srcLatest >= 1, s"no source snapshot at $srcPath")
    val aggCur = latestVersion(spark, aggPath)
    val (covered0, gen0) = if (aggCur == 0) (0, None)
      else readCoverageMarker(spark, aggPath, SnapLog.srcMarker(aggPath, aggCur))
    // Generation fingerprint read FIRST: a rewrite landing between this
    // read and the data read makes the recorded gen stale, which the
    // NEXT refresh answers with a recompute — conservative, never
    // double-counts.
    val genNow = Protocol.rewriteGen(fsFor(spark, srcPath), srcPath)
    val genOk = gen0.contains(genNow)
    if (covered0 == srcLatest && genOk) { lastRefresh.set("noop"); return aggCur }
    // Delta PURITY classification. The incremental path is sound when
    // the latest manifest splits cleanly into (a) CARRIERS of exactly
    // the counted content — dirs of the covered manifest verbatim
    // (immutable), or `compact-*` repackagings (content-preserving by
    // construction, trustworthy because the generation fingerprint
    // proves no merge/erase/heal ran since counting) — and (b) FRESH
    // dirs whose provenance is disjoint from the covered coverage. A
    // compaction that straddles counted and uncounted rows (absorbed an
    // uncounted append) is mixed → recompute; so is a dropped counted
    // root or an expired covered manifest. The r15 shape — any rename
    // forces recompute — kept routine compaction from ever staying
    // incremental, defeating the operator's own 100 TB story.
    val freshDirs: Option[Seq[String]] =
      if (covered0 == 0 || !genOk) None
      else {
        val srcFs = fsFor(spark, srcPath)
        if (!Protocol.isPublished(srcFs, srcPath, covered0)) None
        else {
          val cDirs = Protocol.manifestDirs(srcFs, srcPath, covered0)
          val lDirs = Protocol.manifestDirs(srcFs, srcPath, srcLatest)
          val cCov = Protocol.coverage(srcFs, srcPath, cDirs)
          val counted = lDirs.filter(d =>
            Protocol.provenance(srcFs, srcPath, d).subsetOf(cCov))
          val fresh = lDirs.filter(d =>
            Protocol.provenance(srcFs, srcPath, d).intersect(cCov).isEmpty)
          val mixed = lDirs.exists(d =>
            !counted.contains(d) && !fresh.contains(d))
          // Pristine compact names ONLY: "compact-5-m9" (a merge
          // rewrite of a pack) is content-changing — the generation
          // fingerprint already forces a recompute when one exists,
          // but the name test must not vouch for it independently.
          val pristineCompact = "^compact-\\d+$".r
          val carriersOk = counted.forall(d =>
            cDirs.contains(d) || pristineCompact.findFirstIn(d).isDefined)
          val allCarried = cCov.subsetOf(
            Protocol.coverage(srcFs, srcPath, counted))
          if (!mixed && carriersOk && allCarried) Some(fresh) else None
        }
      }
    // sum_v is pinned to DECIMAL(28,6) on EVERY path (Spark's sum
    // widens to (38,6); a bootstrap at one precision and increments at
    // another would make the union read's decimal types conflict).
    // min_v/max_v ride along: both are MERGEABLE under append-only
    // increments (least/greatest of old and delta), and every
    // non-append mutation already lands on the recompute path via the
    // generation fingerprint — exactly the split that makes them safe.
    //
    // APPROX-DISTINCT rides as a per-group KMV sketch (`kmv`: the k
    // smallest md5 fingerprints of the group's DISTINCT values — the
    // same sketch family as the drift-gate profiles): a set-valued
    // fact of the data, so union-then-recap of two groups' sketches IS
    // the sketch of their union — the increment equals the recompute
    // BIT-FOR-BIT, and the estimate (`distinct_v`) is EXACT while the
    // group's distinct count stays below k (= ProfileK). The per-group
    // build is bounded: distinct (group, fp) pairs then a top-k window
    // — never a collect_set (unbounded per group at 100 TB).
    val vCanon: DataFrame => org.apache.spark.sql.Column = { df =>
      import org.apache.spark.sql.types.{DateType, TimestampType}
      df.schema(valueCol).dataType match {
        case TimestampType => unix_micros(col(valueCol)).cast("string")
        case DateType => unix_date(col(valueCol)).cast("string")
        case _ => col(valueCol).cast("string")
      }
    }
    val emptyKmv = array().cast("array<string>")
    def kmvOf(df: DataFrame): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .select((groupCols.map(col) :+ md5(vCanon(df)).as("__fp")): _*)
        .distinct()
        .withColumn("__rn", row_number().over(Window
          .partitionBy(groupCols.map(col): _*).orderBy(col("__fp"))))
        .filter(col("__rn") <= ProfileK).drop("__rn")
        .groupBy(groupCols.map(col): _*)
        .agg(sort_array(collect_list(col("__fp"))).as("kmv"))
    def kmvEst(kmvCol: org.apache.spark.sql.Column) =
      round(Cardinality.estimate(size(kmvCol),
        Cardinality.prefix(element_at(kmvCol, ProfileK)), ProfileK)).cast("long")
    def aggOf(df: DataFrame): DataFrame = {
      val agg = df.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(col(valueCol).cast(dec)).cast(dec).as("sum_v"),
          min(col(valueCol).cast(dec)).as("min_v"),
          max(col(valueCol).cast(dec)).as("max_v"))
        .join(kmvOf(df), groupCols, "left")
        .withColumn("kmv", coalesce(col("kmv"), emptyKmv))
        .withColumn("distinct_v", kmvEst(col("kmv")))
      refuseNullGroups(agg, groupCols, "refreshAggregate")
    }
    val published = freshDirs match {
      case Some(Nil) =>
        // Pure repackaging (compaction, nothing else): content already
        // covered — re-stamp the marker on the CURRENT agg version and
        // publish nothing.
        lastRefresh.set("noop")
        writeCoverageMarker(spark, aggPath,
          SnapLog.srcMarker(aggPath, aggCur), srcLatest, genNow)
        return aggCur
      case Some(dirs) =>
        val curAgg = readSnapshot(spark, aggPath, aggCur)
        lastRefresh.set(s"incremental:${dirs.mkString(",")}")
        val delta = readDirs(spark, dirs.map(d => s"$srcPath/$d"))
        val deltaAgg = aggOf(delta).drop("distinct_v")
          .withColumnRenamed("n", "__dn").withColumnRenamed("sum_v", "__ds")
          .withColumnRenamed("min_v", "__dmin")
          .withColumnRenamed("max_v", "__dmax")
          .withColumnRenamed("kmv", "__dkmv")
        val cur = curAgg.select((groupCols.map(col) :+ col("n") :+
          col("sum_v") :+ col("min_v") :+ col("max_v") :+
          col("kmv")): _*)
        // KMV union-then-recap: the k smallest of A∪B all lie in
        // (k smallest of A) ∪ (k smallest of B), so the re-capped
        // union IS the sketch a recompute would build — increments
        // and recomputes agree bit-for-bit on append-pure deltas
        // (everything else already recomputes via the generation).
        val mergedKmv = slice(sort_array(array_distinct(concat(
          coalesce(col("kmv"), emptyKmv), col("__dkmv")))),
          1, ProfileK)
        val changes = deltaAgg.join(cur, groupCols, "left")
          .select((groupCols.map(col) :+
            (coalesce(col("n"), lit(0L)) + col("__dn")).as("n") :+
            // BOTH sides null-coalesced: a delta whose every row has
            // a NULL value yields __ds = NULL, and `sum_v + NULL`
            // would wipe the previously accumulated sum while n
            // still increments. NULL survives only when NEITHER side
            // has a value — matching what a recompute's sum() gives.
            when(col("sum_v").isNull && col("__ds").isNull,
              lit(null).cast(dec))
              .otherwise(coalesce(col("sum_v"), lit(0).cast(dec)) +
                coalesce(col("__ds"), lit(0).cast(dec)))
              .cast(dec).as("sum_v") :+
            // least/greatest skip NULLs: a brand-new group takes the
            // delta's bound verbatim.
            least(col("min_v"), col("__dmin")).as("min_v") :+
            greatest(col("max_v"), col("__dmax")).as("max_v") :+
            mergedKmv.as("kmv") :+
            kmvEst(mergedKmv).as("distinct_v") :+
            lit("U").as("__op")): _*)
        mergeSnapshot(spark, aggPath, changes, groupCols, groupCols, "__op")
      case None =>
        // Bootstrap OR unknown/impure coverage: full recompute.
        lastRefresh.set("recompute")
        replaceAggregate(spark, aggPath, aggCur,
          aggOf(readSnapshot(spark, srcPath, srcLatest)), groupCols)
    }
    writeCoverageMarker(spark, aggPath, SnapLog.srcMarker(aggPath, published),
      srcLatest, genNow)
    published
  }

  /** `groups` rows of `like`'s shape whose every other column is a
    * typed NULL — the value side of an aggregate's `D` rows. */
  private def nullFilled(groups: DataFrame,
      like: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String]): DataFrame =
    groups.select(groupCols.map(col) ++ like.fields
      .filterNot(f => groupCols.contains(f.name))
      .map(f => lit(null).cast(f.dataType).as(f.name)): _*)

  /** Full recompute of an aggregate sink from `full`, the recomputed
    * aggregate: a fresh sink is written; an existing one gets `full`'s
    * groups as U rows AND explicit D rows for every group no longer in
    * `full` (an erasure or delete-merge can empty a group entirely —
    * without the D the stale row would survive forever, retaining an
    * erased subject's sums). Returns the published version. */
  private def replaceAggregate(spark: SparkSession, aggPath: String,
      aggCur: Int, full: DataFrame, groupCols: Seq[String]): Int =
    if (aggCur == 0) writeSnapshot(spark, aggPath, full, groupCols, groupCols)
    else {
      val gone = readSnapshot(spark, aggPath, aggCur)
        .select(groupCols.map(col): _*)
        .join(full.select(groupCols.map(col): _*), groupCols, "left_anti")
      mergeSnapshot(spark, aggPath,
        full.withColumn("__op", lit("U")).unionByName(
          nullFilled(gone, full.schema, groupCols).withColumn("__op", lit("D"))),
        groupCols, groupCols, "__op")
    }

  // ── feed-driven aggregate maintenance (the CDC downstream) ──────

  /** Test/ops audit of the last [[refreshAggregateFromFeed]]:
    * `"noop"`, `"recompute"`, or `"feed:<from>-><to>"` naming the span
    * the incremental apply consumed. */
  private[graft] val lastFeedRefresh =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Test/ops audit: groups the last feed apply POINT-RECOMPUTED
    * because a departing value touched their maintained min/max
    * (−1 when the last call was not a feed apply). */
  private[graft] val lastFeedBoundRecomputed =
    new java.util.concurrent.atomic.AtomicReference[Long](-1L)

  /** CHANGE-FEED-DRIVEN MATERIALIZED AGGREGATE — the downstream half
    * of the CDC loop: bring the grouped aggregate at `aggPath` (per
    * `groupCols`: row count `n`, non-null value count `n_val`, exact
    * decimal `sum_v` of `valueCol`) up to date with the snapshot sink
    * at `srcPath` by consuming its change feed, NOT by re-reading the
    * source. Where [[refreshAggregate]]'s increments cover only
    * append-pure deltas (any merge forces a recompute via the rewrite
    * generation), this consumes the exact I/U/D span — WITH update
    * pre-images ([[snapshotChangesWithPreImages]]) — so merges,
    * deletes and compactions all apply incrementally: subtract the
    * D/pre-image side, add the I/post-image side, point-read only the
    * touched groups ([[readSnapshotForKeys]] pruning), publish one
    * merge whose U rows are the touched groups and whose D rows are
    * the groups the span emptied.
    *
    * min/max ARE maintained (`min_v`/`max_v`), optimistically: arrivals
    * extend a bound for free (`least`/`greatest`); a bound only ever
    * RETREATS when some departing value (D or update pre-image) equals
    * it — a max is not decrement-invertible, so exactly those groups
    * are point-recomputed from the source ([[readSnapshotForKeys]] on
    * the group columns — one bounded read), and every other group
    * stays pure arithmetic. [[lastFeedBoundRecomputed]] audits the
    * recomputed-group count.
    *
    * Exactly-once arithmetic across crashes, sink-as-state: the
    * covered source version + the source's ERASURE fingerprint
    * ([[Protocol.eraseGen]] — the one op that edits a span's endpoints in
    * place, making the feed blind) ride a `v<N>.feed` marker written
    * AFTER its aggregate version publishes; the only crash window
    * leaves a published version with no marker, which the next refresh
    * answers with a full recompute — idempotent in content, never a
    * double-add. Returns the published (or current) agg version. */
  def refreshAggregateFromFeed(spark: SparkSession, srcPath: String,
      srcKeys: Seq[String], aggPath: String, groupCols: Seq[String],
      valueCol: String): Int =
      labeled(spark, "graft.refreshAggFeed") {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val srcLatest = latestVersion(spark, srcPath)
    require(srcLatest >= 1, s"no source snapshot at $srcPath")
    val aggCur = latestVersion(spark, aggPath)
    val (covered, egen0) = if (aggCur == 0) (0, None)
      else readCoverageMarker(spark, aggPath, SnapLog.feedMarker(aggPath, aggCur))
    require(covered <= srcLatest,
      s"refreshAggregateFromFeed: marker covers v$covered but the " +
        s"source's latest is v$srcLatest — wrong source or rolled-back " +
        "history")
    val egenNow = Protocol.eraseGen(fsFor(spark, srcPath), srcPath)
    val genOk = egen0.contains(egenNow)
    def aggOf(df: DataFrame): DataFrame = refuseNullGroups(
      df.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          count(col(valueCol)).as("n_val"),
          sum(col(valueCol).cast(dec)).cast(dec).as("sum_v"),
          min(col(valueCol)).as("min_v"),
          max(col(valueCol)).as("max_v")),
      groupCols, "refreshAggregateFromFeed")
    lastFeedBoundRecomputed.set(-1L)
    if (covered == srcLatest && genOk) {
      lastFeedRefresh.set("noop"); return aggCur
    }
    val srcFs = fsFor(spark, srcPath)
    val coveredLive = covered >= 1 &&
      Protocol.isPublished(srcFs, srcPath, covered)
    val published =
      if (covered == 0 || !genOk || !coveredLive) {
        // Bootstrap, post-erasure, expired-from-version, or the crash
        // window (published agg version with no marker): full
        // recompute — idempotent in content.
        lastFeedRefresh.set("recompute")
        replaceAggregate(spark, aggPath, aggCur,
          aggOf(readSnapshot(spark, srcPath, srcLatest)), groupCols)
      } else {
        val span = snapshotChangesWithPreImages(spark, srcPath,
          covered, srcLatest, srcKeys, opCol = "__op")
        val vType = span.schema(valueCol).dataType
        // Signed apply: I and U (post-image) add, D and UP (the
        // update's pre-image) subtract — the two U rows per updated
        // key are exactly what moves a value between groups. Arriving
        // values also carry bound CANDIDATES (__amin/__amax);
        // departing values carry the bound-TOUCH probes
        // (__rmin/__rmax — a departure strictly inside the bounds can
        // never move them).
        val arriving = col("__op").isin("I", "U")
        val sgn = when(arriving, lit(1L)).otherwise(lit(-1L))
        val delta = refuseNullGroups(span.groupBy(groupCols.map(col): _*)
          .agg(sum(sgn).as("__dn"),
            sum(when(col(valueCol).isNotNull, sgn).otherwise(0L))
              .as("__dnv"),
            sum(when(col(valueCol).isNotNull,
                sgn.cast(dec) * col(valueCol).cast(dec))
              .otherwise(lit(0).cast(dec))).cast(dec).as("__ds"),
            min(when(arriving, col(valueCol))).as("__amin"),
            max(when(arriving, col(valueCol))).as("__amax"),
            min(when(!arriving, col(valueCol))).as("__rmin"),
            max(when(!arriving, col(valueCol))).as("__rmax")),
          groupCols, "refreshAggregateFromFeed")
          .localCheckpoint()
        if (delta.isEmpty) {
          // A span with no net change (idempotent replays, pure
          // repackagings): advance the marker, publish nothing.
          lastFeedRefresh.set("noop")
          writeCoverageMarker(spark, aggPath,
            SnapLog.feedMarker(aggPath, aggCur), srcLatest, egenNow)
          return aggCur
        }
        lastFeedRefresh.set(s"feed:$covered->$srcLatest")
        // Only the TOUCHED groups are read back — a point read that
        // prunes to the dirs those group keys can live in.
        val cur = readSnapshotForKeys(spark, aggPath, aggCur, delta,
            groupCols)
          .select((groupCols.map(col) :+ col("n") :+ col("n_val") :+
            col("sum_v") :+ col("min_v") :+ col("max_v")): _*)
        val joined = delta.join(cur, groupCols, "left")
        // Bound retreat: a departing value EQUAL to the maintained
        // bound (departures cannot lie outside it) — just those
        // groups recompute from the source; everyone else is
        // arithmetic.
        val touch = (col("__rmin").isNotNull &&
          (col("__rmin") <=> col("min_v") ||
            col("__rmax") <=> col("max_v")))
        // Lazy checkpoint: the count below materializes the blocks in
        // the same job instead of paying a separate checkpoint pass.
        val touchedKeys = joined.filter(touch)
          .select(groupCols.map(col): _*).localCheckpoint(false)
        val nTouched = touchedKeys.count()
        lastFeedBoundRecomputed.set(nTouched)
        val nNew = coalesce(col("n"), lit(0L)) + col("__dn")
        val nvNew = coalesce(col("n_val"), lit(0L)) + col("__dnv")
        val untouched = joined.filter(!touch)
          .select((groupCols.map(col) :+
            nNew.as("n") :+ nvNew.as("n_val") :+
            when(nvNew === 0L, lit(null).cast(dec))
              .otherwise(coalesce(col("sum_v"), lit(0).cast(dec)) +
                col("__ds")).cast(dec).as("sum_v") :+
            when(nvNew === 0L, lit(null).cast(vType))
              .otherwise(least(col("min_v"), col("__amin")))
              .as("min_v") :+
            when(nvNew === 0L, lit(null).cast(vType))
              .otherwise(greatest(col("max_v"), col("__amax")))
              .as("max_v") :+
            when(nNew <= 0L, "D").otherwise("U").as("__op")): _*)
        val changes =
          if (nTouched == 0L) untouched
          else {
            val recomputed = aggOf(readSnapshotForKeys(spark, srcPath,
              srcLatest, touchedKeys, groupCols))
            val emptied = nullFilled(touchedKeys
              .join(recomputed.select(groupCols.map(col): _*),
                groupCols, "left_anti"), recomputed.schema, groupCols)
            untouched
              .unionByName(recomputed.withColumn("__op", lit("U")))
              .unionByName(emptied.withColumn("__op", lit("D")))
          }
        mergeSnapshot(spark, aggPath, changes, groupCols, groupCols,
          "__op")
      }
    writeCoverageMarker(spark, aggPath,
      SnapLog.feedMarker(aggPath, published), srcLatest, egenNow)
    published
  }
}
