package graft

import graft.ops.Upsert
import org.apache.spark.sql.functions._

/** The snapshot sink: keep-existing publishes, merges, compaction,
  * expiry, vacuum and erasure, their races and their pruning. */
class UpsertPartitionedSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot sink: time travel stable, replay delta empty, manifests atomic") {
    val path = java.nio.file.Files.createTempDirectory("snap").toString
    assert(Upsert.latestVersion(spark, path) == 0, "fresh sink is version 0")
    val v1rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Upsert.writeSnapshot(spark, path, v1rows, Seq("id"), Seq("id")) == 1)
    // v2: one genuinely new key + one conflicting key with a NEW value —
    // keep-existing must drop the conflict
    val v2rows = Seq((2L, "CHANGED"), (3L, "c")).toDF("id", "v")
    assert(Upsert.writeSnapshot(spark, path, v2rows, Seq("id"), Seq("id")) == 2)
    // time travel: v1 unchanged by v2
    assert(Upsert.readSnapshot(spark, path, 1).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(Upsert.readSnapshot(spark, path, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "conflicting key keeps the EXISTING value")
    // replaying v2's batch publishes v3 with an empty delta
    assert(Upsert.writeSnapshot(spark, path, v2rows, Seq("id"), Seq("id")) == 3)
    assert(Upsert.readSnapshotDelta(spark, path, 2, 3).count() == 0)
    assert(Upsert.readSnapshotDelta(spark, path, 1, 3).as[(Long, String)]
      .collect().toSet == Set((3L, "c")))
    // manifests are rename-published: no .tmp files survive; the other
    // legitimate metadata are the publish stamps (.meta), key-range
    // stats sidecars (.stats), the key-column record (keys.cols) and
    // the write-time change records (.changes.meta)
    val snaps = new java.io.File(path, "_snapshots").listFiles().map(_.getName)
      .filterNot(_.startsWith("."))   // local-FS .crc sidecars
    assert(!snaps.exists(_.endsWith(".tmp")), snaps.toSeq)
    assert(snaps.filter(_.endsWith(".list")).sorted.toSeq ==
      Seq("v1.list", "v2.list", "v3.list"), snaps.toSeq)
    assert(snaps.filter(n => n.endsWith(".meta") &&
        !n.endsWith(".changes.meta")).sorted.toSeq ==
      Seq("v1.meta", "v2.meta", "v3.meta"), snaps.toSeq)
    assert(snaps.toSet.subsetOf(Set("v1.list", "v2.list", "v3.list",
      "v1.meta", "v2.meta", "v3.meta", "keys.cols",
      "v1.changes.meta", "v2.changes.meta", "v3.changes.meta",
      "batch-1.stats", "batch-2.stats", "batch-3.stats",
      "batch-1.bloom2", "batch-2.bloom2", "batch-3.bloom2")), snaps.toSeq)
    intercept[IllegalArgumentException] {
      Upsert.readSnapshot(spark, path, 9)
    }
  }

  test("merge: I/U/D apply copy-on-write; untouched dirs carry by reference; history intact") {
    val path = java.nio.file.Files.createTempDirectory("snapm").toString
    // v1 = batch-1 {1:a, 2:b}; v2 adds batch-2 {5:e} (untouched later)
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((5L, "e")).toDF("id", "v"), Seq("id"), Seq("id"))
    // Changes: update 2, delete 1, insert 4, and an I on the present
    // key 5 that keep-existing must drop.
    val changes = Seq(("U", 2L, "B"), ("D", 1L, null.asInstanceOf[String]),
      ("I", 4L, "d"), ("I", 5L, "CLOBBER"))
      .toDF("op", "id", "v")
    val v3 = Upsert.mergeSnapshot(spark, path, changes, Seq("id"),
      Seq("id"), "op")
    assert(v3 == 3)
    assert(Upsert.readSnapshot(spark, path, 3).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (4L, "d"), (5L, "e")), "U replaced, D gone, I landed, present-key I dropped")
    // Copy-on-write: batch-2 (no touched key) carries BY REFERENCE,
    // batch-1 was rewritten, the merge dir holds the fresh rows.
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_snapshots", "v3.list")), "UTF-8")
      .split("\n").toSet
    assert(manifest == Set("batch-2", "batch-1-m3", "merge-3"), manifest)
    // Time travel: v2 still shows the pre-merge world.
    assert(Upsert.readSnapshot(spark, path, 2).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (5L, "e")))
    // Replay idempotence IN CONTENT: the same changes publish v4 with
    // an identical read (U re-lands the same value; D/I are no-ops).
    val v4 = Upsert.mergeSnapshot(spark, path, changes, Seq("id"),
      Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path, v4).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (4L, "d"), (5L, "e")))
    // A deleted key is insertable again by a plain append.
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a2")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "B"), (4L, "d"), (5L, "e")))
    // U on an ABSENT key inserts (upsert half of MERGE semantics).
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 9L, "nine")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).filter(col("id") === 9)
      .select("v").as[String].collect().toSeq == Seq("nine"))
    // Bad op value refuses.
    intercept[IllegalArgumentException] {
      Upsert.mergeSnapshot(spark, path,
        Seq(("X", 1L, "z")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    }
  }

  test("merge: compaction after a merge reads identical and absorbs the rewrite provenance") {
    val path = java.nio.file.Files.createTempDirectory("snapmc").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("D", 2L, null.asInstanceOf[String])).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val vc = Upsert.compactSnapshots(spark, path)
    assert(Upsert.readSnapshot(spark, path, vc).select("id", "v")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    // The deleted key must NOT resurrect through a later append chain.
    Upsert.writeSnapshot(spark, path,
      Seq((7L, "g")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).filter(col("id") === 2).isEmpty)
  }

  test("merge property: random I/U/D rounds track an in-memory model through compaction") {
    // Seeded-random model test over the whole merge lifecycle: six
    // rounds of mixed changes (unique keys per batch so the model's op
    // application is unambiguous), a compaction mid-stream, and a plain
    // append — after every step the latest snapshot must equal the
    // model map exactly, and the pre-step version must still
    // time-travel to its own state.
    val rnd = new scala.util.Random(42)
    val path = java.nio.file.Files.createTempDirectory("snapprop").toString
    var model = (1L to 10L).map(k => k -> rnd.nextInt(100)).toMap
    Upsert.writeSnapshot(spark, path, model.toSeq.toDF("id", "v"),
      Seq("id"), Seq("id"))
    def latestState(): Map[Long, Int] =
      Upsert.readSnapshot(spark, path,
        Upsert.latestVersion(spark, path))
        .as[(Long, Int)].collect().toMap
    assert(latestState() == model)
    for (round <- 1 to 6) {
      val ks = rnd.shuffle((0L to 19L).toList).take(8)
      val changes = ks.map { k =>
        rnd.nextInt(3) match {
          case 0 => ("I", k, rnd.nextInt(100))
          case 1 => ("U", k, rnd.nextInt(100))
          case _ => ("D", k, 0)
        }
      }
      val before = model
      val prevVer = Upsert.latestVersion(spark, path)
      Upsert.mergeSnapshot(spark, path, changes.toDF("op", "id", "v"),
        Seq("id"), Seq("id"), "op")
      changes.foreach {
        case ("I", k, v) => if (!model.contains(k)) model += k -> v
        case ("U", k, v) => model += k -> v
        case (_, k, _)   => model -= k
      }
      assert(latestState() == model, s"round $round diverged from model")
      assert(Upsert.readSnapshot(spark, path, prevVer)
        .as[(Long, Int)].collect().toMap == before,
        s"round $round mutated history")
      if (round == 3) {
        Upsert.compactSnapshots(spark, path)
        assert(latestState() == model, "compaction changed content")
      }
      if (round == 5) {
        val extra = Seq((100L + round, rnd.nextInt(100)))
        Upsert.writeSnapshot(spark, path, extra.toDF("id", "v"),
          Seq("id"), Seq("id"))
        extra.foreach { case (k, v) =>
          if (!model.contains(k)) model += k -> v
        }
        assert(latestState() == model, "append diverged from model")
      }
    }
  }

  test("incremental aggregate property: refresh after every random append equals recompute") {
    val rnd = new scala.util.Random(7)
    val src = java.nio.file.Files.createTempDirectory("iaprop_s").toString
    val agg = java.nio.file.Files.createTempDirectory("iaprop_a").toString
    var nextId = 0L
    var model = Vector.empty[(String, Double)]
    for (round <- 1 to 5) {
      val batch = (1 to 6).map { _ =>
        nextId += 1
        (nextId, s"g${rnd.nextInt(3)}", rnd.nextInt(50).toDouble)
      }
      Upsert.writeSnapshot(spark, src, batch.toDF("id", "g", "v"),
        Seq("id"), Seq("id"))
      model = model ++ batch.map(b => (b._2, b._3))
      val v = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
      val got = Upsert.readSnapshot(spark, agg, v)
        .select(col("g"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = model.groupBy(_._1).map { case (g, xs) =>
        g -> ((xs.size.toLong, xs.map(_._2).sum))
      }
      assert(got == want, s"round $round: $got != $want")
    }
    // A compaction of the SOURCE between appends is a pure repackaging:
    // the coverage-based purity check must KEEP the delta-only path
    // (reading exactly the one new batch dir), and the result must
    // still equal the model.
    Upsert.compactSnapshots(spark, src)
    Upsert.writeSnapshot(spark, src,
      Seq((9999L, "g0", 5.0)).toDF("id", "g", "v"), Seq("id"), Seq("id"))
    model = model :+ (("g0", 5.0))
    val v = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    val mode = Upsert.lastRefresh.get()
    assert(mode.startsWith("incremental:") && mode.contains("batch-") &&
      !mode.contains("compact-"),
      s"post-compaction refresh must stay incremental on the new batch " +
        s"only, was: $mode")
    val got = Upsert.readSnapshot(spark, agg, v)
      .select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val want = model.groupBy(_._1).map { case (g, xs) =>
      g -> ((xs.size.toLong, xs.map(_._2).sum))
    }
    assert(got == want, s"post-compaction refresh diverged: $got != $want")
  }

  test("vacuumOrphans: crashed-writer dirs reclaimed, referenced dirs untouched") {
    val path = java.nio.file.Files.createTempDirectory("snapvac").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    // Simulate a writer that crashed between data write and manifest
    // publish: a batch dir no manifest references.
    Seq((99L, "ghost")).toDF("id", "v")
      .write.parquet(s"$path/batch-7")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    assert(Upsert.vacuumOrphans(spark, path) == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "batch-7")),
      "orphan reclaimed")
    assert(Upsert.readSnapshot(spark, path, 1).as[(Long, String)]
      .collect().toSet == Set((1L, "a")), "referenced dir untouched")
    assert(Upsert.vacuumOrphans(spark, path) == 0, "idempotent")
    // A sink whose FIRST writer crashed after its claim and data write:
    // a log with no manifest. It is still a sink, so its debris reclaims.
    val crashed = java.nio.file.Files.createTempDirectory("snapvac1").toString
    assert(graft.table.Protocol.claimVersion(fs, crashed) == 1)
    Seq((99L, "ghost")).toDF("id", "v").write.parquet(s"$crashed/batch-1")
    assert(Upsert.vacuumOrphans(spark, crashed) == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(crashed, "batch-1")),
      "a crashed first writer's dir is reclaimed")
  }

  test("maintenance on a path that is no sink throws and changes no file") {
    import scala.jdk.CollectionConverters._
    val empty = java.nio.file.Files.createTempDirectory("nosink").toString
    val plain = java.nio.file.Files.createTempDirectory("nosinkpq")
      .resolve("t").toString
    spark.range(100).select(col("id"), (col("id") % 3).as("day"))
      .write.partitionBy("day").parquet(plain)
    def listing(root: String): Seq[(String, Long)] = {
      val r = java.nio.file.Paths.get(root)
      val w = java.nio.file.Files.walk(r)
      try w.iterator().asScala.toSeq.map(p => r.relativize(p).toString ->
          (if (java.nio.file.Files.isDirectory(p)) -1L
           else java.nio.file.Files.size(p))).sorted
      finally w.close()
    }
    for (path <- Seq(empty, plain)) {
      val before = listing(path)
      val doomed = Seq(1L).toDF("id")
      Seq[(String, () => Any)](
        "vacuumOrphans" -> (() => Upsert.vacuumOrphans(spark, path)),
        "compactSnapshots" -> (() => Upsert.compactSnapshots(spark, path)),
        "eraseKeys" -> (() => Upsert.eraseKeys(spark, path, doomed, Seq("id"))),
        "expireSnapshots" -> (() => Upsert.expireSnapshots(spark, path, 1))
      ).foreach { case (op, call) =>
        intercept[IllegalArgumentException](call())
        assert(listing(path) == before, s"$op changed files under $path")
      }
    }
    assert(spark.read.parquet(plain).count() == 100, "the table's data is intact")
  }

  test("vacuumOrphans with grace: a crashed rewriter's claim-named dirs reclaim after the window, not before") {
    val path = java.nio.file.Files.createTempDirectory("snapvacg").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    val before = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_")).toSet
    // A merge CRASHES between its lock-free rewrites and its lock
    // acquisition — the exact window the r16/r17 critical-section
    // shrink opened. Its touched-dir rewrite (batch-1-m*) and landing
    // dir (merge-*) are on disk, referenced by NO manifest, and
    // nothing in the protocol will ever delete them.
    Upsert.mergePreLockHook =
      () => throw new RuntimeException("injected rewriter crash")
    try {
      intercept[RuntimeException] {
        Upsert.mergeSnapshot(spark, path,
          Seq(("U", 2L, "B2"), ("I", 9L, "i")).toDF("op", "id", "v"),
          Seq("id"), Seq("id"), "op")
      }
    } finally Upsert.mergePreLockHook = () => ()
    val after = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_")).toSet
    val leaked = after -- before
    assert(leaked.nonEmpty && leaked.forall(d =>
        d.contains("-m") || d.startsWith("merge-")),
      s"crash must leak rewrite-class orphans: $leaked")
    // expireSnapshots CANNOT see them (they are in no manifest) — the
    // gap the graced vacuum exists for.
    // Inside the grace window the orphans are indistinguishable from an
    // in-flight rewriter's pending dirs: nothing reclaims.
    assert(Upsert.vacuumOrphans(spark, path, minAgeMs = 3600L * 1000) == 0,
      "young orphans survive the grace window")
    assert(leaked.forall(d => new java.io.File(path, d).exists()))
    // Past the window (0 here — the fixture can't wait an hour) the
    // sweep reclaims EXACTLY the crash debris.
    assert(Upsert.vacuumOrphans(spark, path, minAgeMs = 0L) == leaked.size,
      "graced vacuum reclaims exactly the crashed rewriter's dirs")
    assert(leaked.forall(d => !new java.io.File(path, d).exists()))
    // Readers and a subsequent merge are unaffected: the retried merge
    // lands on the intact base.
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "pre-crash content intact after vacuum")
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 2L, "B2"), ("I", 9L, "i")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSet ==
        Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "i")),
      "post-vacuum merge applies cleanly")
  }

  test("eraseKeys: subject gone from EVERY version, originals deleted, sink keeps working") {
    val path = java.nio.file.Files.createTempDirectory("snaperase").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.compactSnapshots(spark, path)                       // v3
    Upsert.writeSnapshot(spark, path,
      Seq((4L, "d")).toDF("id", "v"), Seq("id"), Seq("id"))    // v4
    val erased = Upsert.eraseKeys(spark, path,
      Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    // Key 2 lived in batch-1 AND in the compacted dir: 2 physical rows.
    assert(erased == 2L, s"rows erased: $erased")
    // No version — not even pre-compaction history — surfaces it.
    for (ver <- 1 to 4)
      assert(Upsert.readSnapshot(spark, path, ver)
        .filter(col("id") === 2).isEmpty, s"v$ver still shows the subject")
    assert(Upsert.readSnapshot(spark, path, 1).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
    assert(Upsert.readSnapshot(spark, path, 4).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // The original dirs are physically gone, not just unreferenced.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "batch-1")),
      "erasure must DELETE the original data dir")
    // The subject is insertable again, and the rewrite chain keeps
    // working (merge after erasure exercises provenance on -e dirs).
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "b2")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 4L, "D2")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "D2")))
  }

  test("incremental aggregate: bootstrap, delta-only refresh, no-op, crash-window fallback") {
    val src = java.nio.file.Files.createTempDirectory("iasrc").toString
    val agg = java.nio.file.Files.createTempDirectory("iaagg").toString
    Upsert.writeSnapshot(spark, src,
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0))
        .toDF("id", "g", "v"), Seq("id"), Seq("id"))
    // Bootstrap refresh: full recompute.
    val a1 = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    def state(ver: Int) = Upsert.readSnapshot(spark, agg, ver)
      .select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(state(a1) == Set(("a", 2L, 30.0), ("b", 1L, 5.0)))
    // Source grows (new group + growth of an old one); the refresh
    // must read ONLY the delta and still equal a full recompute.
    Upsert.writeSnapshot(spark, src,
      Seq((4L, "a", 1.0), (5L, "c", 7.0)).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    val a2 = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    assert(state(a2) == Set(("a", 3L, 31.0), ("b", 1L, 5.0), ("c", 1L, 7.0)))
    // Untouched-group dir discipline: group b's stats never rewrote?
    // (copy-on-write is per-dir, both groups share batch dirs here, so
    // just pin the content and the version chain.)
    assert(Upsert.latestVersion(spark, agg) == a2 && a2 > a1)
    // Already covered → no-op, same version.
    assert(Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v") == a2)
    // Crash window: marker missing for the latest agg version → the
    // next refresh falls back to a FULL recompute (never double-adds).
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(agg), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$agg/_snapshots/v$a2.src"),
      false)
    val a3 = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    assert(a3 > a2, "unknown coverage republishes")
    assert(state(a3) == Set(("a", 3L, 31.0), ("b", 1L, 5.0), ("c", 1L, 7.0)),
      "fallback recompute equals the incremental state — no double-add")
  }

  test("a corrupted coverage marker reads as unknown coverage and recomputes, never throws") {
    val src = java.nio.file.Files.createTempDirectory("iacsrc").toString
    val agg = java.nio.file.Files.createTempDirectory("iacagg").toString
    Upsert.writeSnapshot(spark, src,
      Seq((1L, "a", 10.0), (2L, "b", 5.0)).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    val a1 = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    // Crash-truncated first line (the marker write is tmp+rename now,
    // but a marker written by an older build — or a corrupted store —
    // can still surface garbage): the refresh must degrade to a full
    // recompute, not throw NumberFormatException forever.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(agg), spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$agg/_snapshots/v$a1.src")
    val out = fs.create(marker, true)
    try out.write("1x\n?:?".getBytes("UTF-8")) finally out.close()
    Upsert.writeSnapshot(spark, src,
      Seq((3L, "c", 7.0)).toDF("id", "g", "v"), Seq("id"), Seq("id"))
    val a2 = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    assert(Upsert.lastRefresh.get() == "recompute",
      s"unknown coverage must recompute: ${Upsert.lastRefresh.get()}")
    assert(Upsert.readSnapshot(spark, agg, a2)
      .select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet ==
      Set(("a", 1L, 10.0), ("b", 1L, 5.0), ("c", 1L, 7.0)),
      "the recompute equals the true aggregate — no double-add, no loss")
  }

  test("incremental aggregate: an all-NULL-value delta never wipes an accumulated sum") {
    val src = java.nio.file.Files.createTempDirectory("iansrc").toString
    val agg = java.nio.file.Files.createTempDirectory("ianagg").toString
    Upsert.writeSnapshot(spark, src,
      Seq((1L, "a", Some(10.0)), (2L, "a", Some(20.0)))
        .toDF("id", "g", "v"), Seq("id"), Seq("id"))
    Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    // Delta whose EVERY row for group a has a NULL value: sum() over it
    // is NULL, and an un-coalesced `sum_v + NULL` would null the
    // accumulated 30 while n still grows — exactly what a recompute
    // would NOT do.
    Upsert.writeSnapshot(spark, src,
      Seq((3L, "a", None: Option[Double]), (4L, "b", None: Option[Double]))
        .toDF("id", "g", "v"), Seq("id"), Seq("id"))
    val v = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    assert(Upsert.lastRefresh.get().startsWith("incremental"),
      s"must take the delta path: ${Upsert.lastRefresh.get()}")
    val got = Upsert.readSnapshot(spark, agg, v)
      .select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Option[Double])].collect()
      .map { case (g, n, sv) => g -> ((n, sv)) }.toMap
    assert(got("a") == ((3L, Some(30.0))),
      s"group a keeps its sum over an all-NULL delta: $got")
    assert(got("b") == ((1L, None)),
      s"a never-valued group's sum is NULL, matching a recompute: $got")
  }

  test("incremental aggregate: NULL group keys are refused loudly, never silently duplicated") {
    val src = java.nio.file.Files.createTempDirectory("iagsrc").toString
    val agg = java.nio.file.Files.createTempDirectory("iagagg").toString
    Upsert.writeSnapshot(spark, src,
      Seq((1L, Some("a"), 10.0), (2L, None: Option[String], 20.0))
        .toDF("id", "g", "v"), Seq("id"), Seq("id"))
    val e = intercept[Exception] {
      Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("NULL in group column"),
      s"refusal must name the hazard: ${rootMsg(e).take(300)}")
  }

  test("snapshot claims: a rival's claim forces the next version — never a double publish") {
    val path = java.nio.file.Files.createTempDirectory("snapr").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    // A rival writer holds the v2 claim (and may crash before
    // publishing) — simulated by creating the marker directly.
    val claim = new java.io.File(path + "/_snapshots", "v2.claim")
    assert(claim.createNewFile(), "precondition: rival claims v2")
    // This writer must NOT reuse v2: it claims past the marker and
    // publishes v3, anti-joined against the latest PUBLISHED version.
    assert(Upsert.writeSnapshot(spark, path,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id")) == 3)
    assert(Upsert.readSnapshot(spark, path, 3).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // latestVersion counts PUBLISHED manifests only — the orphaned v2
    // claim is a skipped number, not a readable hole.
    assert(Upsert.latestVersion(spark, path) == 3)
    intercept[IllegalArgumentException] { Upsert.readSnapshot(spark, path, 2) }
    // Published versions' claim markers are cleaned up; only the
    // rival's orphan survives.
    val claims = new java.io.File(path, "_snapshots").listFiles()
      .map(_.getName).filter(_.endsWith(".claim"))
    assert(claims.toSeq == Seq("v2.claim"), claims.toSeq)
  }

  test("snapshot reconcile: CROSSED publishes — the later writer sweeps the dropped earlier batch") {
    // The r15-review hole: W1 (claims v2) publishes FIRST and its
    // reconcile exits while it is momentarily latest; W2 (claims v3,
    // base v1, never saw batch-2) publishes v3 WITHOUT batch-2. A naive
    // "am I covered" check passes for BOTH writers and batch-2 is lost.
    // The fix: every reconcile also sweeps its own window for PUBLISHED
    // versions the latest chain dropped, and carries them forward.
    val path = java.nio.file.Files.createTempDirectory("snapx").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$path/batch-2")
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$path/batch-3")
    def publishRaw(v: Int, dirs: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_snapshots", s"v$v.list"),
        dirs.mkString("\n").getBytes("UTF-8"))
    publishRaw(2, Seq("batch-1", "batch-2"))  // W1 published FIRST...
    // ...and its reconcile exited while v2 was latest (not simulated —
    // that's the point: W1 is gone).
    publishRaw(3, Seq("batch-1", "batch-3"))  // W2's crossed publish
    val sch = Seq((0L, "")).toDF("id", "v").schema
    // W2's reconcile: its own batch-3 IS covered by v3 (itself), but
    // the window sweep must find v2's dropped batch-2 and republish.
    val healed = Upsert.reconcileLineage(spark, path, 3, "batch-3",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1)
    assert(Upsert.latestVersion(spark, path) == 4,
      "the crossed publish must force a healing v4")
    assert(Upsert.readSnapshot(spark, path, 4).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"batch-2 must not leave the lineage (healed=$healed)")
    // Re-running the sweep is a no-op.
    assert(Upsert.reconcileLineage(spark, path, 4, "batch-3",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1) == 4)
    assert(Upsert.latestVersion(spark, path) == 4)
  }

  test("snapshot reconcile: a dropped MERGE re-attaches with its rewrites — deletes stay dead") {
    // The r15-review hole in the first sweep: carrying only a dropped
    // version's UNCOVERED dirs pairs its merge dir with the PRE-merge
    // original from the crossed chain — deleted keys resurrect and
    // updated keys double. The sweep must carry whole dropped
    // manifests, shadow-collapsed (rewrite wins over original).
    val path = java.nio.file.Files.createTempDirectory("snapdm").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    // A real merge publishes v2 = [batch-1-m2, merge-2]: D 1, U 2→B.
    Upsert.mergeSnapshot(spark, path,
      Seq(("D", 1L, "x"), ("U", 2L, "B")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    // Crossed appender W chained from v1 publishes v3 WITHOUT the
    // merge (hand-built: W read latest before the merge published and
    // its manifest rename landed after).
    Seq((7L, "g")).toDF("id", "v").write.parquet(s"$path/batch-3")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_snapshots", "v3.list"),
      Seq("batch-1", "batch-3").mkString("\n").getBytes("UTF-8"))
    val sch = Seq((0L, "")).toDF("id", "v").schema
    Upsert.reconcileLineage(spark, path, 3, "batch-3",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1)
    val latest = Upsert.latestVersion(spark, path)
    val got = Upsert.readSnapshot(spark, path, latest)
      .as[(Long, String)].collect().toSeq
    assert(got.toSet == Set((2L, "B"), (7L, "g")),
      s"deleted key resurrected or update lost: $got")
    assert(got.size == 2, s"duplicate keys published: $got")
  }

  test("snapshot reconcile: crossed same-key inserts heal on the SELF-OK path too") {
    // Both writers insert key 2; W1 publishes v2 first and exits; W2
    // crossed-publishes v3. W2's own dir IS covered (selfOk) but the
    // window sweep must still resolve the contested key — W2 yields.
    val path = java.nio.file.Files.createTempDirectory("snapsk").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Seq((2L, "W1")).toDF("id", "v").write.parquet(s"$path/batch-2")
    Seq((2L, "W2"), (3L, "c")).toDF("id", "v").write.parquet(s"$path/batch-3")
    def publishRaw(v: Int, dirs: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_snapshots", s"v$v.list"),
        dirs.mkString("\n").getBytes("UTF-8"))
    publishRaw(2, Seq("batch-1", "batch-2"))  // W1 first, then gone
    publishRaw(3, Seq("batch-1", "batch-3"))  // W2's crossed publish
    val sch = Seq((0L, "")).toDF("id", "v").schema
    Upsert.reconcileLineage(spark, path, 3, "batch-3",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1)
    val got = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSeq
    assert(got.toSet == Set((1L, "a"), (2L, "W1"), (3L, "c")),
      s"earlier publisher must win the contested key: $got")
    assert(got.size == 3, s"key 2 published twice: $got")
  }

  test("snapshot lineage reconcile: an interleaved publish cannot orphan a batch") {
    // The W1/W2 hazard: W1 claims v2, W2 claims v3, W2 publishes
    // v3 = [b1, b3] FIRST, W1 then publishes v2 = [b1, b2] — without
    // reconciliation every later writer chains off v3 and batch-2
    // leaves the lineage forever. Reproduce the post-race state by
    // hand (manifests are plain dir-name lists), then let W1's
    // reconcile step repair it.
    val path = java.nio.file.Files.createTempDirectory("snapl").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$path/batch-2")
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$path/batch-3")
    def publishRaw(v: Int, dirs: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_snapshots", s"v$v.list"),
        dirs.mkString("\n").getBytes("UTF-8"))
    publishRaw(3, Seq("batch-1", "batch-3"))  // W2 won the publish race
    publishRaw(2, Seq("batch-1", "batch-2"))  // W1's late publish
    // W1's reconcile: batch-2 is unreachable from v3 (the latest), so
    // it must claim v4 and republish [v3's dirs, batch-2] — no rewrite
    // dir, since the racers' keys are disjoint.
    val sch = Seq((0L, "")).toDF("id", "v").schema
    val healed = Upsert.reconcileLineage(spark, path, 2, "batch-2",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1)
    assert(healed == 4, s"expected a fresh v4, got v$healed")
    assert(Upsert.readSnapshot(spark, path, 4).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "no batch may leave the lineage")
    assert(!new java.io.File(path, "batch-2-r4").exists(),
      "disjoint keys must republish the original dir, not a rewrite")
    // And a writer whose dir IS reachable does nothing.
    assert(Upsert.reconcileLineage(spark, path, 4, "batch-2",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1) == 4)
    assert(Upsert.latestVersion(spark, path) == 4)
  }

  test("snapshot reconcile: two racers inserting the SAME key converge to one copy") {
    // W1 and W2 both chain off v1 and both insert key 2; W2's publish
    // wins the chain. W1's reconcile must detect the stolen key,
    // rewrite its batch minus it, and republish — keep-existing holds
    // per KEY under concurrency, and every version stays readable.
    val path = java.nio.file.Files.createTempDirectory("snapk").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Seq((2L, "W1"), (4L, "d")).toDF("id", "v").write.parquet(s"$path/batch-2")
    Seq((2L, "W2"), (3L, "c")).toDF("id", "v").write.parquet(s"$path/batch-3")
    def publishRaw(v: Int, dirs: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_snapshots", s"v$v.list"),
        dirs.mkString("\n").getBytes("UTF-8"))
    publishRaw(3, Seq("batch-1", "batch-3"))  // W2 won the chain
    publishRaw(2, Seq("batch-1", "batch-2"))  // W1's late publish
    val sch = Seq((0L, "")).toDF("id", "v").schema
    val healed = Upsert.reconcileLineage(spark, path, 2, "batch-2",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1)
    assert(healed == 4, s"expected a fresh v4, got v$healed")
    val v4 = Upsert.readSnapshot(spark, path, 4).as[(Long, String)]
      .collect().toSet
    assert(v4 == Set((1L, "a"), (2L, "W2"), (3L, "c"), (4L, "d")),
      s"exactly one copy of key 2 (the chain winner's): $v4")
    // W1's own published version is untouched and self-consistent.
    assert(Upsert.readSnapshot(spark, path, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "W1"), (4L, "d")))
    // W2's reconcile (its contribution is reachable) changes nothing.
    assert(Upsert.reconcileLineage(spark, path, 3, "batch-3",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1) == 3)
    assert(Upsert.latestVersion(spark, path) == 4)
  }

  test("snapshot reconcile: a compaction that absorbed the batch counts as reachable") {
    // The r14 ADVICE hazard (b): a compactor publishes between a
    // writer's publish and its reconcile check, absorbing the batch's
    // rows into compact-N while dropping the batch DIR name. A
    // name-based check would re-claim and republish [compact-N,
    // batch-X] — every base row read twice. Coverage-based
    // reachability must treat the absorbed dir as reachable.
    val path = java.nio.file.Files.createTempDirectory("snapab").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.compactSnapshots(spark, path) == 3)
    val sch = Seq((0L, "")).toDF("id", "v").schema
    // batch-2's writer reconciles late: latest manifest is [compact-3]
    // which carries batch-2's rows — reconcile must be a no-op.
    assert(Upsert.reconcileLineage(spark, path, 2, "batch-2",
      Seq("id"), Set("batch-1"), sch, baseVersion = 1) == 2)
    assert(Upsert.latestVersion(spark, path) == 3,
      "no republish on top of the absorbing compaction")
    assert(Upsert.readSnapshot(spark, path, 3).count() == 2)
  }

  test("compaction is serialized by an exclusive lock") {
    val path = java.nio.file.Files.createTempDirectory("snaplk").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    val lock = new java.io.File(path + "/_snapshots", "compact.lock")
    assert(lock.createNewFile(), "precondition: rival compactor holds the lock")
    val e = intercept[IllegalStateException] { Upsert.compactSnapshots(spark, path) }
    assert(e.getMessage.contains("compact.lock"), e.getMessage)
    assert(lock.delete())
    assert(Upsert.compactSnapshots(spark, path) == 2, "lock released → compaction runs")
    assert(!lock.exists(), "lock removed after a successful compaction")
  }

  test("expiry sweeps dead claim markers: no version inflation after a crashed claimant") {
    val path = java.nio.file.Files.createTempDirectory("snapgc").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    // A claimant takes v2 and crashes before publishing.
    val claim = new java.io.File(path + "/_snapshots", "v2.claim")
    assert(claim.createNewFile())
    // The next writer skips the dead number and publishes v3.
    assert(Upsert.writeSnapshot(spark, path,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id")) == 3)
    // Expiry (even one that keeps every version) sweeps claims the
    // protocol has provably passed (≤ latest published).
    assert(Upsert.expireSnapshots(spark, path, keepFrom = 1) == 0)
    assert(!claim.exists(), "dead claim swept")
    // The next version is latest+1 — no inflation from debris.
    assert(Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id")) == 4)
  }

  test("snapshot schema evolution: a later batch's new column reads as NULL for old rows") {
    val path = java.nio.file.Files.createTempDirectory("snape").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "b", 7.5)).toDF("id", "v", "w"), Seq("id"), Seq("id"))
    val v2 = Upsert.readSnapshot(spark, path, 2)
    assert(v2.columns.toSet == Set("id", "v", "w"),
      "merged read must surface the evolved column")
    val rows = v2.select("id", "v", "w").as[(Long, String, Option[Double])]
      .collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(7.5))),
      s"old rows read NULL in the new column: $rows")
    // Time travel to v1 shows the schema AS PUBLISHED — no w column.
    assert(Upsert.readSnapshot(spark, path, 1).columns.toSet == Set("id", "v"))
    // The delta between v1 and v2 is exactly the evolved batch.
    assert(Upsert.readSnapshotDelta(spark, path, 1, 2)
      .select("id", "v", "w").as[(Long, String, Option[Double])]
      .collect().toSet == Set((2L, "b", Some(7.5))))
  }

  test("snapshot compaction: read identical, history intact, chain continues on top") {
    val path = java.nio.file.Files.createTempDirectory("snapc").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.compactSnapshots(spark, path) == 3)
    assert(Upsert.readSnapshot(spark, path, 3).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")), "compaction = same rows")
    assert(Upsert.readSnapshot(spark, path, 1).as[(Long, String)]
      .collect().toSet == Set((1L, "a")), "pre-compaction travel intact")
    // the chain continues on top of the compacted dir
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.readSnapshot(spark, path, 4).count() == 3)
    assert(Upsert.readSnapshotDelta(spark, path, 3, 4).as[(Long, String)]
      .collect().toSet == Set((3L, "c")), "post-compaction delta is the append")
    // Across the compaction boundary: NOTHING was added between v2 and
    // its own repackaging, and the provenance diff knows it (the
    // name-diff used to surface the whole compacted corpus as delta —
    // a full re-read per routine maintenance cycle at scale).
    assert(Upsert.readSnapshotDelta(spark, path, 2, 3).count() == 0)
    // And ACROSS the pack: v2 → v4 delta is still exactly the append.
    assert(Upsert.readSnapshotDelta(spark, path, 2, 4).as[(Long, String)]
      .collect().toSet == Set((3L, "c")),
      "delta across the repackaging boundary is the true append")
  }

  test("snapshot expiry: old versions gone, survivors intact, shared dirs never deleted") {
    val path = java.nio.file.Files.createTempDirectory("snape").toString
    Upsert.writeSnapshot(spark, path, Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path, Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.compactSnapshots(spark, path)                 // v3 = compact dir
    Upsert.writeSnapshot(spark, path, Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    // expire before the compaction: batch-1/batch-2 are unreferenced by
    // v3/v4 and must be reclaimed; the compact dir is SHARED and must stay
    assert(Upsert.expireSnapshots(spark, path, keepFrom = 3) == 2)
    intercept[IllegalArgumentException] { Upsert.readSnapshot(spark, path, 1) }
    assert(Upsert.readSnapshot(spark, path, 3).count() == 2, "kept horizon reads")
    assert(Upsert.readSnapshot(spark, path, 4).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val dataDirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(dataDirs.toSeq == Seq("batch-4", "compact-3"), dataDirs.toSeq)
  }

  test("key-range pruning: merge probes only dirs whose range can hold the touched keys") {
    val path = java.nio.file.Files.createTempDirectory("snapkr").toString
    // Two disjoint key-range dirs: lows (1..100) and highs (1000..1100).
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "lo1"), (100L, "lo2")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((1000L, "hi1"), (1100L, "hi2")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // A merge touching only high keys must not OPEN the low dir.
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1000L, "HI1"), ("D", 1100L, "x")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val probed = Upsert.lastProbedDirs.get()
    assert(probed == Seq("batch-2"),
      s"merge must probe only the overlapping dir, probed: $probed")
    val latest = Upsert.latestVersion(spark, path)
    assert(Upsert.readSnapshot(spark, path, latest).as[(Long, String)]
      .collect().toSet ==
      Set((1L, "lo1"), (100L, "lo2"), (1000L, "HI1")),
      "pruned merge result")
    // The untouched low dir was carried BY REFERENCE, never rewritten.
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
    assert(dirs.contains("batch-1") && !dirs.exists(_.startsWith("batch-1-")),
      s"low dir must survive unrewritten: $dirs")

    // Erasure of a low key must not open the high dirs.
    Upsert.eraseKeys(spark, path, Seq(Tuple1(100L)).toDF("id"), Seq("id"))
    val probedErase = Upsert.lastProbedDirs.get()
    assert(probedErase.forall(d => d == "batch-1" || d.startsWith("batch-1-")),
      s"erase must probe only low-range dirs, probed: $probedErase")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSet == Set((1L, "lo1"), (1000L, "HI1")))
  }

  test("key-range pruning: point read opens only overlapping dirs; no-overlap probe reads nothing") {
    val path = java.nio.file.Files.createTempDirectory("snappt").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (50L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((900L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    val got = Upsert.readSnapshotForKeys(spark, path, 2,
      Seq(Tuple1(50L)).toDF("id"), Seq("id"))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-1"),
      s"probed: ${Upsert.lastProbedDirs.get()}")
    assert(got.as[(Long, String)].collect().toSeq == Seq((50L, "b")))
    // A probe between the ranges overlaps neither dir.
    val none = Upsert.readSnapshotForKeys(spark, path, 2,
      Seq(Tuple1(500L)).toDF("id"), Seq("id"))
    assert(Upsert.lastProbedDirs.get().isEmpty && none.isEmpty,
      "disjoint probe opens nothing and returns nothing")
    // String keys prune too (lexicographic ranges).
    val sp = java.nio.file.Files.createTempDirectory("snapstr").toString
    Upsert.writeSnapshot(spark, sp,
      Seq(("apple", 1), ("banana", 2)).toDF("k", "n"), Seq("k"), Seq("k"))
    Upsert.writeSnapshot(spark, sp,
      Seq(("walnut", 3), ("zebra", 4)).toDF("k", "n"), Seq("k"), Seq("k"))
    Upsert.readSnapshotForKeys(spark, sp, 2,
      Seq(Tuple1("zebra")).toDF("k"), Seq("k")).collect()
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"string probe: ${Upsert.lastProbedDirs.get()}")
  }

  test("compaction re-validates its base after the lock: a merge in the window forces a redo") {
    // Two inputs: a full compaction, and a threshold pack whose packed
    // dirs hold the merged key while a large dir carries by reference.
    for (pack <- Seq(false, true)) {
      val path = java.nio.file.Files.createTempDirectory("snapcc").toString
      val big = if (!pack) Set.empty[(Long, String)]
                else (100L to 3000L).map(i => (i, s"x$i")).toSet
      if (pack)
        Upsert.writeSnapshot(spark, path, big.toSeq.toDF("id", "v"),
          Seq("id"), Seq("id"))
      Upsert.writeSnapshot(spark, path,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
      Upsert.writeSnapshot(spark, path,
        Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val smallBytes =
        if (!pack) Long.MaxValue
        else fs.getContentSummary(
          new org.apache.hadoop.fs.Path(path, "batch-1")).getLength - 1
      // Inject a rewriter into the rewrite→lock window: the merge
      // deletes key 2 AFTER the compactor has already written its (now
      // stale) compacted file. Without the re-validation the compaction
      // would publish the pre-merge rows and resurrect the deleted key.
      var fired = false
      Upsert.compactPreLockHook = () => {
        if (!fired) { // only on the first pass — the redo must see a clean window
          fired = true
          Upsert.mergeSnapshot(spark, path,
            Seq(("D", 2L, "")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
        }
      }
      val cv = try {
        val v = Upsert.compactSnapshots(spark, path, smallBytes)
        assert(fired, "hook must have fired")
        assert(Upsert.readSnapshot(spark, path, v).as[(Long, String)]
          .collect().toSet == big ++ Set((1L, "a"), (3L, "c")),
          s"compaction after redo reflects the merge — deleted key stays dead (pack = $pack)")
        assert(Upsert.readSnapshot(spark, path,
          Upsert.latestVersion(spark, path)).filter(col("id") === 2).isEmpty)
        v
      } finally Upsert.compactPreLockHook = () => ()
      // The stale first-pass compact dir must not linger as a readable
      // orphan in any manifest.
      val referenced = (1 to Upsert.latestVersion(spark, path)).flatMap { v =>
        val p = new org.apache.hadoop.fs.Path(path + "/_snapshots", s"v$v.list")
        if (!fs.exists(p)) Nil
        else {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        }
      }
      val compacts = referenced.filter(_.startsWith("compact-")).distinct
      assert(compacts.size == 1,
        s"exactly one compact dir may be referenced, got: $compacts")
      if (pack) assert(Upsert.manifestEntries(spark, path, cv).map(_.dir)
          .contains("batch-1"), "the large dir carries by reference")
    }
  }

  test("crossed-publish healing: a third carrier resolves conflicts between two exited writers") {
    // The r15 residual bound, reproduced exactly: W1 published v2 =
    // [b1, b2] and W2 published v3 = [b1, b3] CROSSED (each exited its
    // reconcile while momentarily latest, so neither saw the other),
    // and batch-2/batch-3 share key 42. A third writer W3 chained off
    // v1 publishes v4 = [b1, b4]; its dropped-version sweep re-attaches
    // BOTH sides. Verbatim re-attachment would publish key 42 twice —
    // the healing must let the EARLIER claim (batch-2) win and rewrite
    // batch-3 minus the stolen key, deterministically, with no log.
    val path = java.nio.file.Files.createTempDirectory("snapx3").toString
    val snap = new java.io.File(path, "_snapshots"); snap.mkdirs()
    def writeDir(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "v").write.parquet(s"$path/$name")
    def writeManifest(v: Int, dirs: Seq[String]): Unit = {
      val f = new java.io.FileWriter(new java.io.File(snap, s"v$v.list"))
      try f.write(dirs.mkString("\n")) finally f.close()
    }
    writeDir("batch-1", Seq((1L, "a")))
    writeDir("batch-2", Seq((2L, "w1"), (42L, "FIRST")))
    writeDir("batch-3", Seq((3L, "w2"), (42L, "SECOND")))
    writeDir("batch-4", Seq((4L, "d")))
    writeManifest(1, Seq("batch-1"))
    writeManifest(2, Seq("batch-1", "batch-2"))
    writeManifest(3, Seq("batch-1", "batch-3"))
    writeManifest(4, Seq("batch-1", "batch-4")) // W3's crossed publish
    val schema = spark.read.parquet(s"$path/batch-4").schema
    Upsert.reconcileLineage(spark, path, published = 4,
      dirName = "batch-4", keys = Seq("id"),
      baseCoverage = Set("batch-1"), schema = schema, baseVersion = 1)
    val latest = Upsert.latestVersion(spark, path)
    val rows = Upsert.readSnapshot(spark, path, latest)
      .as[(Long, String)].collect()
    assert(rows.count(_._1 == 42L) == 1,
      s"key 42 must appear exactly once after healing: ${rows.toSeq}")
    assert(rows.toMap.apply(42L) == "FIRST",
      "the earlier claim (batch-2) must win the key")
    assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 42L),
      s"every writer's non-conflicting rows survive: ${rows.toSeq}")
    // batch-3's ORIGINAL is untouched (its own published version still
    // time-travels with both rows); only the lineage carries a rewrite.
    assert(Upsert.readSnapshot(spark, path, 3)
      .filter(col("id") === 42L).count() == 1)
  }

  test("collapseShadows: equal-provenance sibling rewrites keep only the newest") {
    val path = java.nio.file.Files.createTempDirectory("snapsib").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // batch-1-r5 and batch-1-r7 share root batch-1 and (name-derived)
    // provenance {batch-1}; neither prefixes the other. The r15 shape
    // kept both — publishing the same keys twice and resurrecting rows
    // the newer heal yielded.
    val kept = graft.table.Protocol.collapseShadows(fs, path,
      Seq("batch-1-r5", "batch-1-r7", "batch-2"))
    assert(kept.sorted == Seq("batch-1-r7", "batch-2"),
      s"newest sibling must shadow the older: $kept")
    // And the original next to both: prefix rule + sibling rule compose.
    val kept2 = graft.table.Protocol.collapseShadows(fs, path,
      Seq("batch-1", "batch-1-r5", "batch-1-r7"))
    assert(kept2 == Seq("batch-1-r7"), s"got: $kept2")
    // CROSS-KIND siblings: a heal rewrite (-r3) and a MERGE rewrite
    // (-m5) of one root, re-attached together. The -m name doesn't
    // parse back to the root (rootOf strips only -r) — family identity
    // plus the merge's .absorbed record must still collapse them to
    // the newer line, or the merge's deletes resurrect.
    val snap = new java.io.File(path, "_snapshots"); snap.mkdirs()
    val af = new java.io.FileWriter(new java.io.File(snap,
      "batch-1-m5.absorbed"))
    try af.write("batch-1") finally af.close()
    val kept3 = graft.table.Protocol.collapseShadows(fs, path,
      Seq("batch-1-r3", "batch-1-m5", "batch-2"))
    assert(kept3.sorted == Seq("batch-1-m5", "batch-2"),
      s"the newer merge rewrite must shadow the heal sibling: $kept3")
  }

  test("key-range pruning: supplementary-plane string keys compare in UTF-8 order, never UTF-16") {
    // U+1F600 is a surrogate pair: it sorts BELOW U+E000 in UTF-16
    // code units but ABOVE it in UTF-8 bytes (Spark's min/max order).
    // A UTF-16 comparison would prune the dir and silently lose the
    // row — missing point reads, un-rewritten merges, partial erasure.
    val path = java.nio.file.Files.createTempDirectory("snaputf").toString
    val emoji = new String(Character.toChars(0x1F600))
    Upsert.writeSnapshot(spark, path,
      Seq((emoji, 1)).toDF("k", "n"), Seq("k"), Seq("k"))
    val got = Upsert.readSnapshotForKeys(spark, path, 1,
      Seq(Tuple1("\uE000"), Tuple1(emoji)).toDF("k"), Seq("k"))
      .as[(String, Int)].collect().toSeq
    assert(got == Seq((emoji, 1)),
      s"supplementary-plane key must survive range pruning: $got " +
        s"(probed ${Upsert.lastProbedDirs.get()})")
  }

  test("timestamp time travel: as-of resolves to the version live at that instant") {
    val path = java.nio.file.Files.createTempDirectory("snapts").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    val t1 = Upsert.publishedAtMs(spark, path, 1)
    Thread.sleep(15)
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    val t2 = Upsert.publishedAtMs(spark, path, 2)
    assert(t2 > t1, "publish stamps must advance")
    assert(Upsert.versionAsOf(spark, path, t1) == 1)
    assert(Upsert.readSnapshotAsOf(spark, path, t1).as[(Long, String)]
      .collect().toSet == Set((1L, "a")), "as-of v1's instant reads v1")
    assert(Upsert.versionAsOf(spark, path, System.currentTimeMillis()) == 2)
    intercept[IllegalArgumentException] {
      Upsert.versionAsOf(spark, path, t1 - 100000)
    }
  }

  test("refreshAggregate recompute emits D ops: groups erased from the source vanish from the aggregate") {
    val src = java.nio.file.Files.createTempDirectory("iadel_s").toString
    val agg = java.nio.file.Files.createTempDirectory("iadel_a").toString
    Upsert.writeSnapshot(spark, src,
      Seq((1L, "gA", 10.0), (2L, "gA", 5.0), (3L, "gB", 7.0))
        .toDF("id", "g", "v"), Seq("id"), Seq("id"))
    Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    // Erase EVERY gA row — right-to-be-forgotten across history. The
    // erasure bumps the source's rewrite generation, so the refresh
    // recomputes AND must emit a D for the now-empty group: the r15
    // shape merged U rows only, leaving gA's stale sums readable
    // forever (undercutting erasure itself).
    Upsert.eraseKeys(spark, src,
      Seq(Tuple1(1L), Tuple1(2L)).toDF("id"), Seq("id"))
    val v = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    assert(Upsert.lastRefresh.get() == "recompute",
      s"erasure must force a recompute, was ${Upsert.lastRefresh.get()}")
    val got = Upsert.readSnapshot(spark, agg, v)
      .select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("gB", 1L, 7.0)),
      s"erased group must vanish from the aggregate, got: $got")
    // And a same-version erasure with no new source version must still
    // be noticed (gen mismatch at equal covered version).
    Upsert.eraseKeys(spark, src, Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    val v2 = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
    assert(Upsert.lastRefresh.get() == "recompute")
    assert(Upsert.readSnapshot(spark, agg, v2)
      .filter(col("n").isNotNull).isEmpty ||
      Upsert.readSnapshot(spark, agg, v2).isEmpty,
      "all groups gone after erasing everything")
  }

  test("op-soup property: random append/merge/pack/compact/erase rounds track the model, refresh always equals recompute") {
    // One randomized interleaving of EVERY sink op class against an
    // in-memory model — the integration the per-op tests can't give:
    // key-range pruning inside merges, packs as counted carriers,
    // erasure generation bumps, delta-purity classification, and D-op
    // recomputes all firing against each other.
    val rnd = new scala.util.Random(16)
    val src = java.nio.file.Files.createTempDirectory("soup_s").toString
    val agg = java.nio.file.Files.createTempDirectory("soup_a").toString
    var model = Map.empty[Long, (String, Double)] // id -> (g, v)
    def latestState() = Upsert.readSnapshot(spark, src,
        Upsert.latestVersion(spark, src))
      .select(col("id"), col("g"), col("v"))
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def checkRefresh(): Unit = {
      val v = Upsert.refreshAggregate(spark, src, agg, Seq("g"), "v")
      // distinct_v rides the same check: these groups stay far below
      // the sketch's k, so the KMV estimate must be EXACT on every
      // path — increments (union-then-recap) and recomputes alike.
      val got = Upsert.readSnapshot(spark, agg, v)
        .select(col("g"), col("n"), col("sum_v").cast("double"),
          col("distinct_v"))
        .as[(String, Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val want = model.values.groupBy(_._1).map { case (g, xs) =>
        g -> ((xs.size.toLong, xs.map(_._2).sum,
          xs.map(_._2).toSeq.distinct.size.toLong))
      }
      assert(got == want, s"aggregate diverged: $got != $want " +
        s"(mode ${Upsert.lastRefresh.get()})")
    }
    // Bootstrap.
    Upsert.writeSnapshot(spark, src,
      Seq((1L, "g0", 1.0), (2L, "g1", 2.0)).toDF("id", "g", "v"),
      Seq("id"), Seq("id"))
    model = Map(1L -> (("g0", 1.0)), 2L -> (("g1", 2.0)))
    checkRefresh()
    // Change-feed induction: at every step, the I/U/D diff between the
    // previous and current version, APPLIED to the previous model,
    // must reproduce the current model — the property a CDC consumer
    // relies on. Erasure resyncs without a check: it edits history in
    // place (both versions lose the subject), it is not a change event.
    var prevV = Upsert.latestVersion(spark, src)
    var prevModel = model
    def checkChanges(): Unit = {
      val curV = Upsert.latestVersion(spark, src)
      if (curV != prevV) {
        val cdf = Upsert.snapshotChanges(spark, src, prevV, curV, Seq("id"))
          .select(col("op"), col("id"), col("g"), col("v"))
          .as[(String, Long, String, Double)].collect()
        assert(cdf.map(_._2).distinct.length == cdf.length,
          s"change feed must emit one row per key: ${cdf.toSeq}")
        val applied = cdf.foldLeft(prevModel) {
          case (m, ("D", id, _, _)) => m - id
          case (m, (_, id, g, v)) => m + (id -> ((g, v)))
        }
        assert(applied == model,
          s"replaying changes($prevV→$curV) onto the old state diverged: " +
            s"$applied != $model")
      }
      prevV = curV; prevModel = model
    }
    var nextId = 100L
    for (round <- 1 to 14) {
      val opClass = rnd.nextInt(5)
      opClass match {
        case 0 => // keep-existing append: one dup key, two fresh
          val dup = model.keys.toSeq.sorted.headOption.getOrElse(1L)
          val rows = Seq((dup, "gX", -1.0)) ++ (1 to 2).map { _ =>
            nextId += 1; (nextId, s"g${rnd.nextInt(3)}", rnd.nextInt(9).toDouble)
          }
          Upsert.writeSnapshot(spark, src, rows.toDF("id", "g", "v"),
            Seq("id"), Seq("id"))
          rows.drop(1).foreach { case (k, g, v) =>
            if (!model.contains(k)) model += k -> ((g, v)) }
        case 1 if model.size >= 2 =>
          // CDC merge: U the smallest key, D the largest, I one new —
          // distinct keys by construction (one op per key, so the
          // within-batch collapse is deterministic).
          val keys = model.keys.toSeq.sorted
          val up = keys.head
          val del = keys.last
          nextId += 1
          val ins = (nextId, s"g${rnd.nextInt(3)}", 3.0)
          val ch = Seq(("U", up, "gU", 5.0), ("D", del, "", 0.0),
            ("I", ins._1, ins._2, ins._3))
          Upsert.mergeSnapshot(spark, src, ch.toDF("op", "id", "g", "v"),
            Seq("id"), Seq("id"), "op")
          model += up -> (("gU", 5.0))
          model -= del
          model += ins._1 -> ((ins._2, ins._3))
        case 1 => () // too few keys to merge distinctly this round
        case 2 => // bin-pack the trickle dirs
          Upsert.compactSnapshots(spark, src, smallBytes = 1L << 30)
        case 3 => // full compaction
          Upsert.compactSnapshots(spark, src)
        case 4 => // right-to-be-forgotten one key
          model.keys.toSeq.sorted.drop(1).headOption.foreach { k =>
            Upsert.eraseKeys(spark, src, Seq(Tuple1(k)).toDF("id"), Seq("id"))
            model -= k
          }
      }
      assert(latestState() == model,
        s"round $round state diverged (op class above)")
      assert(Upsert.countSnapshot(spark, src,
          Upsert.latestVersion(spark, src)) == model.size.toLong,
        s"round $round metadata count diverged " +
          s"(scanned ${Upsert.lastCountScanned.get()})")
      if (opClass == 4) { prevV = Upsert.latestVersion(spark, src)
                          prevModel = model }
      else checkChanges()
      if (round % 2 == 0) checkRefresh()
    }
    checkRefresh()
  }

  test("compactSmallDirs: small dirs pack into one, large dirs carry by reference") {
    val path = java.nio.file.Files.createTempDirectory("snapopt").toString
    // One big dir, three trickle dirs.
    Upsert.writeSnapshot(spark, path,
      (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    for (b <- 0 to 2)
      Upsert.writeSnapshot(spark, path,
        (10001L + b * 10 to 10010L + b * 10).map(i => (i, s"t$i"))
          .toDF("id", "v"), Seq("id"), Seq("id"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val bigSize = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(path, "batch-1")).getLength
    val before = Upsert.readSnapshot(spark, path, 4)
      .as[(Long, String)].collect().toSet
    val v = Upsert.compactSnapshots(spark, path, smallBytes = bigSize - 1)
    assert(v == 5, s"published version $v")
    // Manifest shape: the pack + the untouched big dir, nothing else.
    val in = fs.open(new org.apache.hadoop.fs.Path(
      path + "/_snapshots", s"v$v.list"))
    val dirs = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    assert(dirs.sorted == List("batch-1", "compact-5"),
      s"pack + carried big dir, got: $dirs")
    assert(Upsert.readSnapshot(spark, path, v)
      .as[(Long, String)].collect().toSet == before, "content identical")
    assert(Upsert.readSnapshot(spark, path, 2).count() == 5010,
      "history intact")
    // Nothing qualifies under a tiny threshold → no-op, current version.
    assert(Upsert.compactSnapshots(spark, path, smallBytes = 1) == v)
    // The pack is content-preserving: an incremental aggregate stays
    // delta-only across it (counted-carrier classification).
    val agg = java.nio.file.Files.createTempDirectory("snapopt_a").toString
    Upsert.writeSnapshot(spark, path,
      Seq((20001L, "z")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.refreshAggregate(spark, path, agg, Seq("v"), "id")
    Upsert.compactSnapshots(spark, path, smallBytes = bigSize - 1)
    Upsert.writeSnapshot(spark, path,
      Seq((20002L, "z2")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.refreshAggregate(spark, path, agg, Seq("v"), "id")
    val mode = Upsert.lastRefresh.get()
    assert(mode.startsWith("incremental:") && !mode.contains("compact-"),
      s"refresh across a pack must stay delta-only, was: $mode")
  }

  test("merge with an evolved schema: the CDC path adds a column, old rows read NULL") {
    val path = java.nio.file.Files.createTempDirectory("snapme").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // The change batch carries a NEW column w: U replaces key 2 with a
    // w value, I lands key 4 with one; keys 1/3 stay in the original
    // (id, v)-schema dir and must surface w = NULL.
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 2L, "B", Some(9.5)), ("I", 4L, "d", Some(1.5)))
        .toDF("op", "id", "v", "w"),
      Seq("id"), Seq("id"), "op")
    val latest = Upsert.latestVersion(spark, path)
    val got = Upsert.readSnapshot(spark, path, latest)
      .select("id", "v", "w").as[(Long, String, Option[Double])]
      .collect().toSet
    assert(got == Set((1L, "a", None), (3L, "c", None),
      (2L, "B", Some(9.5)), (4L, "d", Some(1.5))), got.toString)
    // Pre-merge history keeps its published schema.
    assert(Upsert.readSnapshot(spark, path, 1).columns.toSet ==
      Set("id", "v"))
  }

  test("bloom pruning: interleaved ranges defeat min/max, the bloom still prunes point reads") {
    val path = java.nio.file.Files.createTempDirectory("snapbloom").toString
    // Both dirs span [1, 1500]-ish ranges — min/max stats overlap any
    // probe; only the membership sketch can tell them apart.
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (1000L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((500L, "c"), (1500L, "d")).toDF("id", "v"), Seq("id"), Seq("id"))
    val got = Upsert.readSnapshotForKeys(spark, path, 2,
      Seq(Tuple1(500L)).toDF("id"), Seq("id"))
    assert(got.as[(Long, String)].collect().toSeq == Seq((500L, "c")))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"bloom must prune the range-overlapping miss dir: " +
        s"${Upsert.lastProbedDirs.get()}")
  }

  test("writeSnapshotGated: a null-rate jump refuses the publish; a clean batch lands") {
    val path = java.nio.file.Files.createTempDirectory("snapgate").toString
    Upsert.writeSnapshot(spark, path,
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // A batch that would push v's null rate from 0 to ~0.5 must be
    // refused — and refusal publishes NOTHING (no version, no dir).
    val bad = (51L to 100L).map(i => (i, null: String)).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      Upsert.writeSnapshotGated(spark, path, bad, Seq("id"), Seq("id"),
        maxNullRateJump = 0.1, maxRowGrowthPct = 500.0)
    }
    assert(e.getMessage.contains("null_rate_jump"), e.getMessage)
    assert(Upsert.latestVersion(spark, path) == 1, "nothing published")
    // A clean batch passes the same gate.
    val good = (51L to 60L).map(i => (i, s"v$i")).toDF("id", "v")
    val v = Upsert.writeSnapshotGated(spark, path, good, Seq("id"), Seq("id"),
      maxNullRateJump = 0.1, maxRowGrowthPct = 500.0)
    assert(v == 2 && Upsert.readSnapshot(spark, path, 2).count() == 60)
    // Row-growth bound: a 10x explosion trips the gate.
    val flood = (1000L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
    val e2 = intercept[IllegalStateException] {
      Upsert.writeSnapshotGated(spark, path, flood, Seq("id"), Seq("id"),
        maxNullRateJump = 0.1, maxRowGrowthPct = 100.0)
    }
    assert(e2.getMessage.contains("row_growth_above_max"), e2.getMessage)
  }

  test("write-path pruning: an append's keep-existing check opens only range-overlapping dirs") {
    val path = java.nio.file.Files.createTempDirectory("snapwp").toString
    // Two disjoint key-range dirs: lows (1..100) and highs (1000..1100).
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "lo1"), (100L, "lo2")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((1000L, "hi1"), (1100L, "hi2")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // A high-key append must check keep-existing against the HIGH dir
    // only — the low dir is never opened (the write-path twin of the
    // merge/erase probe pruning).
    Upsert.writeSnapshot(spark, path,
      Seq((1000L, "SHOULD_LOSE"), (1050L, "hi3")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"append probed: ${Upsert.lastProbedDirs.get()}")
    val got = Upsert.readSnapshot(spark, path, 3).as[(Long, String)]
      .collect().toMap
    assert(got(1000L) == "hi1" && got(1050L) == "hi3" && got.size == 5,
      s"keep-existing holds under pruning: $got")
    // An append fully disjoint from every dir probes NOTHING — zero
    // anti-join input, the batch lands whole.
    Upsert.writeSnapshot(spark, path,
      Seq((500L, "mid")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.lastProbedDirs.get().isEmpty,
      s"disjoint append probed: ${Upsert.lastProbedDirs.get()}")
    assert(Upsert.readSnapshot(spark, path, 4).count() == 6)
  }

  test("bloom pruning: overlapping ranges, the bloom stage still prunes the keyless dir") {
    val path = java.nio.file.Files.createTempDirectory("snapbl").toString
    // Both dirs span ~the whole domain — range pruning admits BOTH for
    // any probe inside it (the hash-distributed-keys regime). Only the
    // bloom sidecar can tell them apart.
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (500L, "b"), (1000L, "c")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "d"), (999L, "e")).toDF("id", "v"), Seq("id"), Seq("id"))
    // Point read of key 500: in batch-1 only, but inside both ranges.
    val got = Upsert.readSnapshotForKeys(spark, path, 2,
      Seq(Tuple1(500L)).toDF("id"), Seq("id")).as[(Long, String)]
      .collect().toSeq
    assert(got == Seq((500L, "b")))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-1"),
      s"bloom must prune batch-2 (range overlaps, key absent): " +
        s"${Upsert.lastProbedDirs.get()}")
    // A one-key MERGE gets the same bloom stage: U of 999 (batch-2
    // only, inside batch-1's range) must open batch-2 alone.
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 999L, "E2")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"merge touched-probe: ${Upsert.lastProbedDirs.get()}")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toMap.apply(999L) == "E2")
    // And ERASE: key 500 now lives in batch-1 only; the erase probes
    // past batch-2's bloom without opening it.
    Upsert.eraseKeys(spark, path, Seq(Tuple1(500L)).toDF("id"), Seq("id"))
    assert(Upsert.lastProbedDirs.get().forall(d => !d.startsWith("batch-2")),
      s"erase probed: ${Upsert.lastProbedDirs.get()}")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).filter(col("id") === 500L).isEmpty)
  }

  test("merge keep-existing probe (present set) prunes to the I keys' dirs") {
    val path = java.nio.file.Files.createTempDirectory("snapmp").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "lo")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((1000L, "hi")).toDF("id", "v"), Seq("id"), Seq("id"))
    // I of a LOW key (present → must drop) + U of a HIGH key: the
    // present-set probe sees only the low dir; the touched probe only
    // the high dir. Two separate audit slots, two separate answers.
    Upsert.mergeSnapshot(spark, path,
      Seq(("I", 1L, "SHOULD_LOSE"), ("U", 1000L, "HI2"))
        .toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    assert(Upsert.lastPresentDirs.get() == Seq("batch-1"),
      s"present probe: ${Upsert.lastPresentDirs.get()}")
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"touched probe: ${Upsert.lastProbedDirs.get()}")
    val got = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toMap
    assert(got == Map(1L -> "lo", 1000L -> "HI2"),
      s"keep-existing I dropped, U applied: $got")
  }

  test("merge race: an interleaved append in the lock-free window keeps both writers' rows, keys once") {
    val path = java.nio.file.Files.createTempDirectory("snapmr1").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    // While the merge rewrites lock-free, an appender publishes key 50
    // — the SAME key the merge's I row carries. The merge must yield
    // (sequential merge-then-append equivalence) and the key publish
    // exactly once, with the appender's value.
    var fired = false
    Upsert.mergePreLockHook = () => {
      if (!fired) {
        fired = true
        Upsert.writeSnapshot(spark, path,
          Seq((50L, "APPENDER"), (60L, "x")).toDF("id", "v"),
          Seq("id"), Seq("id"))
      }
    }
    try {
      Upsert.mergeSnapshot(spark, path,
        Seq(("I", 50L, "MERGER"), ("U", 1L, "A2"))
          .toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    } finally Upsert.mergePreLockHook = () => ()
    assert(fired, "hook must have fired")
    val rows = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)].collect()
    assert(rows.count(_._1 == 50L) == 1,
      s"key 50 must appear exactly once: ${rows.toSeq}")
    assert(rows.toMap == Map(1L -> "A2", 2L -> "b",
      50L -> "APPENDER", 60L -> "x"),
      s"merge applied, appender carried, I yielded: ${rows.toSeq}")
  }

  test("merge race: a compaction rewriting the base forces a stale-retry, no lost deletes") {
    val path = java.nio.file.Files.createTempDirectory("snapmr2").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    // A compactor replaces BOTH base dirs inside the merge's
    // rewrite→lock window: the merge's staleness check must fail the
    // first pass and the retry must run against the compacted base.
    var fired = false
    Upsert.mergePreLockHook = () => {
      if (!fired) { fired = true; Upsert.compactSnapshots(spark, path) }
    }
    try {
      Upsert.mergeSnapshot(spark, path,
        Seq(("D", 2L, ""), ("U", 3L, "C2")).toDF("op", "id", "v"),
        Seq("id"), Seq("id"), "op")
    } finally Upsert.mergePreLockHook = () => ()
    assert(fired)
    val got = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSet
    assert(got == Set((1L, "a"), (3L, "C2")),
      s"delete survived the compaction race: $got")
    // No orphaned first-pass rewrite dirs linger on disk.
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_"))
    val latestDirs = (1 to Upsert.latestVersion(spark, path)).flatMap { v =>
      val f = new java.io.File(path + "/_snapshots", s"v$v.list")
      if (!f.exists()) Nil
      else scala.io.Source.fromFile(f).getLines().toList
    }.toSet
    assert(dirs.forall(latestDirs.contains),
      s"every on-disk dir is referenced by some manifest: ${dirs.toSeq}")
  }

  test("erase race: a merge landing in the erase's lock-free window — no resurrection, no lost rows") {
    val path = java.nio.file.Files.createTempDirectory("snaper1").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "SUBJECT")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    // While the erase has rewritten batch-1 lock-free (minus the
    // subject), a rival merge updates key 1 — REPLACING batch-1 in the
    // latest manifest with its own rewrite, which still carries the
    // subject. The erase's post-lock validation must find that new
    // dir, loop, and erase it too; the merge's edit must survive.
    var fired = false
    Upsert.erasePreLockHook = () => {
      if (!fired) {
        fired = true
        Upsert.mergeSnapshot(spark, path,
          Seq(("U", 1L, "A2"), ("I", 9L, "i")).toDF("op", "id", "v"),
          Seq("id"), Seq("id"), "op")
      }
    }
    val erased = try Upsert.eraseKeys(spark, path,
      Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    finally Upsert.erasePreLockHook = () => ()
    assert(fired, "hook must have fired")
    // One physical copy in batch-1 (historical) + one in the merge's
    // rewrite of it (latest): both erased.
    assert(erased == 2L, s"rows erased: $erased")
    val latest = Upsert.latestVersion(spark, path)
    for (v <- 1 to latest)
      if (new java.io.File(path + "/_snapshots", s"v$v.list").exists())
        assert(Upsert.readSnapshot(spark, path, v)
          .filter(col("id") === 2L).isEmpty,
          s"subject resurfaced at v$v")
    // No surviving row was lost — the merge's update and insert land.
    assert(Upsert.readSnapshot(spark, path, latest).as[(Long, String)]
      .collect().toMap == Map(1L -> "A2", 3L -> "c", 9L -> "i"),
      "merge edits survive the erase race")
    // Nothing orphaned: every on-disk dir is referenced by a manifest.
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    val referenced = (1 to latest).flatMap { v =>
      val f = new java.io.File(path + "/_snapshots", s"v$v.list")
      if (!f.exists()) Nil
      else scala.io.Source.fromFile(f).getLines().toList
    }.toSet
    assert(dirs.subsetOf(referenced),
      s"unreferenced debris after racing erase: ${dirs -- referenced}")
  }

  test("merge race: merge vs merge — the second retries and both edits land") {
    val path = java.nio.file.Files.createTempDirectory("snapmr3").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    // A rival merge rewrites batch-1 (touching key 1) inside our
    // merge's window; our merge touches key 2 of the SAME dir — its
    // first-pass rewrite is stale and must be redone off the rival's.
    var fired = false
    Upsert.mergePreLockHook = () => {
      if (!fired) {
        fired = true
        Upsert.mergeSnapshot(spark, path,
          Seq(("U", 1L, "RIVAL")).toDF("op", "id", "v"),
          Seq("id"), Seq("id"), "op")
      }
    }
    try {
      Upsert.mergeSnapshot(spark, path,
        Seq(("U", 2L, "MINE")).toDF("op", "id", "v"),
        Seq("id"), Seq("id"), "op")
    } finally Upsert.mergePreLockHook = () => ()
    assert(fired)
    val rows = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)].collect()
    assert(rows.toMap == Map(1L -> "RIVAL", 2L -> "MINE") &&
      rows.length == 2,
      s"both merges' edits land exactly once: ${rows.toSeq}")
  }

  test("gated publishes run off per-dir profiles; merge and erasure keep the gate maintained") {
    val path = java.nio.file.Files.createTempDirectory("snapgp").toString
    def gated(rows: Seq[(Long, String)]): Int =
      Upsert.writeSnapshotGated(spark, path, rows.toDF("id", "v"),
        Seq("id"), Seq("id"),
        maxNullRateJump = 0.1, maxRowGrowthPct = 1000.0)
    // A sink born BEFORE the gate opt-in: its dir has no profile
    // sidecar, so the first gate evaluation profiles it on demand…
    Upsert.writeSnapshot(spark, path,
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    gated(Seq((21L, "x")))
    assert(Upsert.lastGateMode.get() == "recomputed")
    // …and PERSISTS it per dir, so every later gated publish unions
    // sidecars — batch-cost only, no re-read of published data.
    gated(Seq((22L, "y")))
    assert(Upsert.lastGateMode.get() == "maintained")
    // A MERGE rewrites a dir and lands new ones; its outputs are
    // profiled at write time (the gate marker is on), so the next
    // gated publish STAYS maintained — the r17 version-keyed design
    // re-profiled the corpus here.
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1L, "V1"), ("D", 2L, ""), ("I", 23L, "z"))
        .toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    gated(Seq((24L, "w")))
    assert(Upsert.lastGateMode.get() == "maintained",
      "merge outputs must carry profiles — gate fell back to a scan")
    // The gate still REFUSES in maintained mode (the sketch union
    // sees the same drift a recompute would).
    intercept[graft.ops.DriftRefusedException] {
      gated((100L to 140L).map(i => (i, null: String)))
    }
    assert(Upsert.lastGateMode.get() == "maintained")
    val beforeRefusal = Upsert.latestVersion(spark, path)
    assert(Upsert.readSnapshot(spark, path, beforeRefusal)
      .filter(col("id") >= 100L).count() == 0, "refusal publishes nothing")
    // ERASURE deletes dirs' sidecars with the dirs and stamps fresh
    // profiles on its rewrites — the gate never re-bootstraps.
    Upsert.eraseKeys(spark, path, Seq(Tuple1(21L)).toDF("id"), Seq("id"))
    gated(Seq((25L, "q")))
    assert(Upsert.lastGateMode.get() == "maintained",
      "erasure rewrites must carry profiles — gate fell back to a scan")
    val ids = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).select("id").as[Long]
      .collect().toSet
    assert(ids == ((1L to 20L).toSet - 2L ++ Set(22L, 23L, 24L, 25L)),
      "merged/erased keys resolved, all gated publishes present")
    // The maintained union is NUMERICALLY honest: the gate's row count
    // equals the real count after merge + erasure.
    val h = Upsert.countSnapshot(spark, path,
      Upsert.latestVersion(spark, path))
    assert(h == ids.size.toLong, s"sidecar count drifted: $h vs ${ids.size}")
  }

  test("probe pushdown: sorted compaction + bounding-box filters reach the parquet scan") {
    val path = java.nio.file.Files.createTempDirectory("snappd").toString
    Upsert.writeSnapshot(spark, path,
      (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      (401L to 800L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    val cv = Upsert.compactSnapshots(spark, path)
    // The compact dir is KEY-SORTED: its non-empty part files carry
    // pairwise-disjoint id ranges, so footer stats can answer a probe.
    val parts = new java.io.File(path, s"compact-$cv").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
      .toSeq
    val ranges = parts.flatMap { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("id").as[Long].collect().toSeq
      assert(ids == ids.sorted,
        s"rows inside each compact part file must be key-sorted " +
          s"(row-group stats depend on it): ${f.getName}")
      if (ids.isEmpty) None else Some((ids.head, ids.last))
    }.sortBy(_._1)
    // When the range exchange lands >1 file, files carry disjoint
    // ordered ranges (AQE may legally coalesce tiny test inputs to 1).
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"part ranges must be disjoint and ordered: $ranges")
      case _ => ()
    }
    // The point read's plan pushes the probe's bounding box to the
    // parquet scan — row groups outside [42, 43] are skipped by
    // footer stats even though the manifest-level stages must admit
    // the (corpus-spanning) compact dir.
    val rd = Upsert.readSnapshotForKeys(spark, path, cv,
      Seq(Tuple1(42L), Tuple1(43L)).toDF("id"), Seq("id"))
    val plan = rd.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(id,42)") &&
      plan.contains("LessThanOrEqual(id,43)") &&
      plan.contains("PushedFilters"),
      s"probe bounds must reach PushedFilters:\n${plan.take(2000)}")
    assert(rd.as[(Long, String)].collect().toSet ==
      Set((42L, "v42"), (43L, "v43")))
    // The WRITE path pushes the batch's box into its keep-existing
    // anti-join scan too.
    Upsert.writeSnapshot(spark, path,
      Seq((42L, "SHOULD_LOSE"), (801L, "new")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    val after = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)].collect().toMap
    assert(after(42L) == "v42" && after(801L) == "new" && after.size == 801,
      "keep-existing correct under pushdown")
    // A merge against the sorted compact dir stays correct (the
    // touched probe and the rewrite disagree on filtering — only the
    // probe is bounded).
    Upsert.mergeSnapshot(spark, path,
      Seq(("D", 700L, ""), ("U", 42L, "U42")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val merged = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)].collect().toMap
    assert(merged(42L) == "U42" && !merged.contains(700L) &&
      merged.size == 800)
  }

  test("snapshotChanges: exact I/U/D diff, D rows carry old values, schema evolution compares as NULL") {
    val path = java.nio.file.Files.createTempDirectory("snapcdf").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 2L, "B2"), ("D", 3L, ""), ("I", 4L, "d"))
        .toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    val cdf = Upsert.snapshotChanges(spark, path, 1, 2, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(cdf == Set(("U", 2L, "B2"), ("D", 3L, "c"), ("I", 4L, "d")),
      s"unchanged key 1 absent, D carries the OLD value: $cdf")
    // The merge WROTE its change record, so that feed composed it —
    // and the KEY-DIFF (records deleted) must give the identical set:
    // the two paths are interchangeable truths.
    assert(Upsert.lastChangesMode.get() == "recorded:2",
      s"merge record must drive the feed: ${Upsert.lastChangesMode.get()}")
    val fs0 = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs0.delete(new org.apache.hadoop.fs.Path(path + "/_snapshots",
      "v2.changes.meta"), false)
    val cdfKd = Upsert.snapshotChanges(spark, path, 1, 2, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(Upsert.lastChangesMode.get() == "keydiff" && cdfKd == cdf,
      s"key-diff fallback must equal the recorded feed: $cdfKd")
    // Identity diff: a version against itself is empty.
    assert(Upsert.snapshotChanges(spark, path, 2, 2, Seq("id")).isEmpty)
    // Reverse diff inverts ops (I↔D, U keeps new-side values).
    val rev = Upsert.snapshotChanges(spark, path, 2, 1, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(rev == Set(("U", 2L, "b"), ("I", 3L, "c"), ("D", 4L, "d")), rev)
    // Additive schema evolution: v3 adds column w. A key that merely
    // GAINS a null w is unchanged; the new row surfaces with its w.
    Upsert.writeSnapshot(spark, path,
      Seq((5L, "e", 9L)).toDF("id", "v", "w"), Seq("id"), Seq("id"))
    val evo = Upsert.snapshotChanges(spark, path, 2, 3, Seq("id"))
      .select("op", "id", "v", "w")
      .as[(String, Long, String, Option[Long])].collect().toSet
    assert(evo == Set(("I", 5L, "e", Some(9L))),
      s"only the genuinely-new row changes across the evolution: $evo")
    // SHARED-DIR pruning: a dir carried by reference in both manifests
    // is never read — the feed costs the touched dirs, not the corpus.
    val p2 = java.nio.file.Files.createTempDirectory("snapcdf2").toString
    Upsert.writeSnapshot(spark, p2,
      Seq((1L, "lo1"), (2L, "lo2")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, p2,
      Seq((1000L, "hi")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, p2,
      Seq(("U", 1000L, "HI2")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val feed = Upsert.snapshotChanges(spark, p2, 2, 3, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(feed == Set(("U", 1000L, "HI2")), feed)
    assert(Upsert.lastChangesMode.get() == "recorded:3",
      s"single-merge span must compose: ${Upsert.lastChangesMode.get()}")
    // With the record removed, the key-diff's SHARED-DIR pruning is
    // still what bounds the fallback's cost: carried dirs never read.
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p2), spark.sparkContext.hadoopConfiguration)
    fs2.delete(new org.apache.hadoop.fs.Path(p2 + "/_snapshots",
      "v3.changes.meta"), false)
    val feedKd = Upsert.snapshotChanges(spark, p2, 2, 3, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(feedKd == feed, s"fallback diverged: $feedKd")
    val (oldOnly, newOnly) = Upsert.lastDiffDirs.get()
    assert(!oldOnly.contains("batch-1") && !newOnly.contains("batch-1"),
      s"carried batch-1 must not feed the diff: $oldOnly / $newOnly")
    assert(oldOnly == Seq("batch-2"),
      s"old side reads only the replaced dir: $oldOnly")
  }

  test("recorded change feed: composition across merges, compaction and appends equals the key-diff") {
    val path = java.nio.file.Files.createTempDirectory("snapcdr").toString
    // v1: base. v2: merge (U/D/I + a U on an ABSENT key → records as
    // I). v3: full compaction (none record — the keydiff's degradation
    // boundary). v4: append. v5: merge deleting a key v2 UPDATED (the
    // composed D must carry the value AT v2's base, not v2's update).
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (6L, "f"))
        .toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 2L, "B2"), ("D", 3L, ""), ("I", 4L, "d"),
        ("U", 7L, "g")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    Upsert.compactSnapshots(spark, path)
    Upsert.writeSnapshot(spark, path,
      Seq((5L, "e")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("D", 2L, ""), ("U", 6L, "F2")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val to = Upsert.latestVersion(spark, path)
    val rec = Upsert.snapshotChanges(spark, path, 1, to, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(Upsert.lastChangesMode.get().startsWith("recorded:"),
      s"full chain must compose: ${Upsert.lastChangesMode.get()}")
    // Endpoint semantics: key 2 was U'd then D'd — ONE D row with the
    // v1 value; key 3 deleted; 4/5/7 inserted; 6 updated; 1 untouched.
    assert(rec == Set(("D", 2L, "b"), ("D", 3L, "c"), ("I", 4L, "d"),
      ("I", 5L, "e"), ("U", 6L, "F2"), ("I", 7L, "g")),
      s"composed endpoint diff wrong: $rec")
    // The key-diff across the same span (records stripped) agrees —
    // the two paths are interchangeable truths even over a compaction.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    (1 to to).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(path + "/_snapshots",
        s"v$v.changes.meta"), false)
    }
    val kd = Upsert.snapshotChanges(spark, path, 1, to, Seq("id"))
      .select("op", "id", "v").as[(String, Long, String)].collect().toSet
    assert(Upsert.lastChangesMode.get() == "keydiff" && kd == rec,
      s"key-diff disagreed with composition: $kd vs $rec")
  }

  test("minMaxSnapshot: metadata-only min/max equals the scan answer; statless dirs fall back") {
    val path = java.nio.file.Files.createTempDirectory("snapmm").toString
    Upsert.declareSkipCols(spark, path, Seq("score"))
    Upsert.writeSnapshot(spark, path,
      (10L to 40L).map(i => (i, i * 2, s"v$i")).toDF("id", "score", "v"),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      (41L to 55L).map(i => (i, i * 2, s"v$i")).toDF("id", "score", "v"),
      Seq("id"), Seq("id"))
    val v = Upsert.latestVersion(spark, path)
    assert(Upsert.minMaxSnapshot(spark, path, v, "id") ==
      ((Some(10L), Some(55L))))
    assert(Upsert.lastMinMaxScanned.get().isEmpty,
      "key min/max must come from sidecars alone")
    // Declared skip columns answer too (same sidecar lines).
    assert(Upsert.minMaxSnapshot(spark, path, v, "score") ==
      ((Some(20L), Some(110L))))
    assert(Upsert.lastMinMaxScanned.get().isEmpty)
    // A column with no stats line (plain value column) falls back to
    // per-dir scans — same answer, dirs named in the audit.
    assert(Upsert.minMaxSnapshot(spark, path, v, "v") ==
      ((Some("v10"), Some("v55"))))
    assert(Upsert.lastMinMaxScanned.get().sorted ==
      Seq("batch-1", "batch-2"), Upsert.lastMinMaxScanned.get())
    // Historical versions answer from their dirs' sidecars.
    assert(Upsert.minMaxSnapshot(spark, path, 1, "id") ==
      ((Some(10L), Some(40L))))
    // A merge keeps it honest: deletes move the bounds.
    Upsert.mergeSnapshot(spark, path,
      (Seq(("D", 10L, 0L, ""), ("D", 55L, 0L, "")))
        .toDF("op", "id", "score", "v"), Seq("id"), Seq("id"), "op")
    val v2 = Upsert.latestVersion(spark, path)
    assert(Upsert.minMaxSnapshot(spark, path, v2, "id") ==
      ((Some(11L), Some(54L))))
    assert(Upsert.lastMinMaxScanned.get().isEmpty,
      "merge rewrites must carry fresh sidecars")
    // A misspelled column refuses loudly instead of reading as
    // all-NULL (None, None).
    intercept[IllegalArgumentException] {
      Upsert.minMaxSnapshot(spark, path, v2, "scroe")
    }
    // After a rename, the LIVE name answers from the old dirs' stats
    // via the alias walk (still zero scans); the dead name refuses.
    Upsert.renameColumn(spark, path, "score", "points")
    assert(Upsert.minMaxSnapshot(spark, path, v2, "points") ==
      ((Some(22L), Some(108L))))
    assert(Upsert.lastMinMaxScanned.get().isEmpty,
      "pre-rename sidecars must answer for the live name")
    intercept[IllegalArgumentException] {
      Upsert.minMaxSnapshot(spark, path, v2, "score")
    }
  }

  test("consumeChanges: cursor-tracked feed consumption — initial snapshot, spans exactly once, crash re-delivers") {
    val path = java.nio.file.Files.createTempDirectory("snapcc").toString
    val cursor = path + "/_consumer/main.cursor"
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    var model = Map.empty[Long, String]
    def apply(df: org.apache.spark.sql.DataFrame): Unit =
      df.select("op", "id", "v").as[(String, Long, String)].collect()
        .foreach {
          case ("D", id, _) => model -= id
          case (_, id, v) => model += id -> v
        }
    // First call: the full state as I rows (CDC initial snapshot).
    assert(Upsert.consumeChanges(spark, path, cursor, Seq("id"))(apply) == 1)
    assert(model == Map(1L -> "a", 2L -> "b"))
    // The cursor dir is an underscore path: hygiene sweeps must never
    // eat it (that would silently reset the consumer to the initial
    // snapshot).
    assert(Upsert.vacuumOrphans(spark, path, minAgeMs = 0L) == 0)
    assert(new java.io.File(path, "_consumer").exists(),
      "vacuum must exempt underscore paths (consumer cursors)")
    // No new versions → f is NOT called.
    Upsert.consumeChanges(spark, path, cursor, Seq("id")) { _ =>
      fail("must not deliver an empty span")
    }
    // Two more versions, one consume: the span arrives once, composed.
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1L, "A2"), ("D", 2L, ""), ("I", 3L, "c"))
        .toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    Upsert.writeSnapshot(spark, path,
      Seq((4L, "d")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.consumeChanges(spark, path, cursor, Seq("id"))(apply) == 3)
    assert(model == Map(1L -> "A2", 3L -> "c", 4L -> "d"))
    // Crash mid-apply: the cursor must NOT advance; the retry
    // re-delivers the same span and the model converges (idempotent).
    Upsert.writeSnapshot(spark, path,
      Seq((5L, "e")).toDF("id", "v"), Seq("id"), Seq("id"))
    intercept[RuntimeException] {
      Upsert.consumeChanges(spark, path, cursor, Seq("id")) { _ =>
        throw new RuntimeException("consumer crash")
      }
    }
    assert(Upsert.consumeChanges(spark, path, cursor, Seq("id"))(apply) == 4)
    assert(model == Map(1L -> "A2", 3L -> "c", 4L -> "d", 5L -> "e"))
    // A cursor PAST the sink's latest (wrong sink / copied cursor /
    // rolled-back history) refuses instead of silently skipping spans.
    new java.io.File(path + "/_consumer").mkdirs()
    new java.io.File(path + "/_consumer", "main.cursor.v99").createNewFile()
    intercept[IllegalArgumentException] {
      Upsert.consumeChanges(spark, path, cursor, Seq("id"))(apply)
    }
  }

  test("readSnapshotWhere: value bounds reach PushedFilters; schema stable across pruning") {
    val path = java.nio.file.Files.createTempDirectory("snapvw").toString
    Upsert.declareSkipCols(spark, path, Seq("score"))
    Upsert.writeSnapshot(spark, path,
      (1L to 200L).map(i => (i, i % 100, s"v$i")).toDF("id", "score", "v"),
      Seq("id"), Seq("id"))
    // Additive evolution: only batch-2 carries `extra`.
    Upsert.writeSnapshot(spark, path,
      (201L to 400L).map(i => (i, 100 + i % 100, s"v$i", i))
        .toDF("id", "score", "v", "extra"), Seq("id"), Seq("id"))
    val rd = Upsert.readSnapshotWhere(spark, path, 2,
      Map("score" -> ((120L, 150L))))
    val plan = rd.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(score,120)") &&
      plan.contains("LessThanOrEqual(score,150)") &&
      plan.contains("PushedFilters"),
      s"value bounds must reach PushedFilters:\n${plan.take(1500)}")
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"low dir must prune: ${Upsert.lastProbedDirs.get()}")
    // Schema stability: bounds pruning to batch-1 (which LACKS
    // `extra`) must still return the full logical shape.
    val rd1 = Upsert.readSnapshotWhere(spark, path, 2,
      Map("score" -> ((10L, 20L))))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-1"))
    assert(rd1.columns.sorted.toSeq == rd.columns.sorted.toSeq,
      s"shape must not depend on the bounds: ${rd1.columns.toSeq} vs " +
        s"${rd.columns.toSeq}")
    assert(rd1.filter(col("extra").isNotNull).isEmpty,
      "pruned-away column reads as NULL, not as a missing column")
  }

  test("countSnapshot: metadata-only count equals the scan count; statless dirs fall back") {
    val path = java.nio.file.Files.createTempDirectory("snapcnt").toString
    Upsert.writeSnapshot(spark, path,
      (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      (41L to 55L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("D", 5L, ""), ("I", 100L, "x")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val v = Upsert.latestVersion(spark, path)
    assert(Upsert.countSnapshot(spark, path, v) ==
      Upsert.readSnapshot(spark, path, v).count())
    assert(Upsert.lastCountScanned.get().isEmpty,
      s"every dir must answer from its sidecar: " +
        s"${Upsert.lastCountScanned.get()}")
    // Historical versions count too (their dirs keep their sidecars).
    assert(Upsert.countSnapshot(spark, path, 1) == 40L)
    // A dir without the sidecar line degrades to a scan of THAT dir.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path + "/_snapshots",
      "batch-2.stats"), false)
    assert(Upsert.countSnapshot(spark, path, 2) == 55L)
    assert(Upsert.lastCountScanned.get() == Seq("batch-2"),
      s"only the statless dir scans: ${Upsert.lastCountScanned.get()}")
  }

  test("probe bounds clamp to the scan column's integral range — no wrap, no lost matches") {
    // Int-keyed sink probed with LONGS beyond the int domain: the
    // pushed bounding box must clamp (a naive literal cast wraps, the
    // box goes empty, and the stored row silently vanishes from point
    // reads and erasures).
    val path = java.nio.file.Files.createTempDirectory("snapclamp").toString
    Upsert.writeSnapshot(spark, path,
      Seq((10, "a"), (20, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    val got = Upsert.readSnapshotForKeys(spark, path, 1,
      Seq(10L, 3000000000L).toDF("id"), Seq("id"))
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((10, "a")),
      s"long probe on an int sink must still find the row: $got")
    // A probe range wholly ABOVE the int domain matches nothing.
    assert(Upsert.readSnapshotForKeys(spark, path, 1,
      Seq(3000000000L, 4000000000L).toDF("id"), Seq("id")).isEmpty)
    // Erasure with a long-typed doomed frame reaches the int row.
    Upsert.eraseKeys(spark, path, Seq(Tuple1(20L)).toDF("id"), Seq("id"))
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Int, String)]
      .collect().toSeq == Seq((10, "a")))
  }

  test("a lock collision after the lock-free rewrites leaves no orphan dirs") {
    val path = java.nio.file.Files.createTempDirectory("snaplock").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val lockPath = new org.apache.hadoop.fs.Path(path + "/_snapshots",
      "compact.lock")
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    def dataDirs() = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_"))
      .sorted.toSeq
    // A rival takes the lock inside the rewrite→acquire window: the
    // merge must clean up its rewritten dirs before propagating the
    // typed collision (the CDC sink retries these routinely — leaking
    // a rewrite set per collision would bloat the sink until vacuum).
    Upsert.mergePreLockHook = () => fs.create(lockPath, false).close()
    try intercept[graft.ops.LockHeldException] {
      Upsert.mergeSnapshot(spark, path,
        Seq(("U", 1L, "A2")).toDF("op", "id", "v"),
        Seq("id"), Seq("id"), "op")
    } finally Upsert.mergePreLockHook = () => ()
    assert(dataDirs() == Seq("batch-1"),
      s"no merge orphans may survive the collision: ${dataDirs()}")
    fs.delete(lockPath, false)
    // Same for the compactors' pack/compact dirs.
    Upsert.compactPreLockHook = () => fs.create(lockPath, false).close()
    try intercept[graft.ops.LockHeldException] {
      Upsert.compactSnapshots(spark, path)
    } finally Upsert.compactPreLockHook = () => ()
    assert(dataDirs() == Seq("batch-1"),
      s"no compact orphans may survive: ${dataDirs()}")
    fs.delete(lockPath, false)
    // The sink still works after both collisions.
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1L, "A2")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)]
      .collect().toSet == Set((1L, "A2"), (2L, "b")))
  }

  test("sidecar robustness: corrupt __rows degrades to a scan; a key column named __rows never lies") {
    val path = java.nio.file.Files.createTempDirectory("snaprb").toString
    Upsert.writeSnapshot(spark, path,
      (1L to 7L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), Seq("id"))
    // Truncate the total line mid-number (the sidecar write is
    // best-effort and non-atomic): count must fall back to scanning
    // that dir, never throw.
    val statsFile = new java.io.File(path + "/_snapshots", "batch-1.stats")
    val lines = scala.io.Source.fromFile(statsFile).getLines().toList
    val w = new java.io.FileWriter(statsFile)
    try w.write(lines.map(l =>
      if (l.startsWith("__rows\trows\t")) "__rows\trows\t" else l)
      .mkString("\n"))
    finally w.close()
    assert(Upsert.countSnapshot(spark, path, 1) == 7L)
    assert(Upsert.lastCountScanned.get() == Seq("batch-1"),
      s"corrupt total must scan: ${Upsert.lastCountScanned.get()}")
    // A sink KEYED on a column literally named __rows: its range line
    // must neither be dropped (pruning keeps working) nor be mistaken
    // for a total (tags disambiguate).
    val p2 = java.nio.file.Files.createTempDirectory("snaprb2").toString
    Upsert.writeSnapshot(spark, p2,
      Seq((100L, "x"), (200L, "y")).toDF("__rows", "v"),
      Seq("__rows"), Seq("__rows"))
    assert(Upsert.countSnapshot(spark, p2, 1) == 2L)
    val got = Upsert.readSnapshotForKeys(spark, p2, 1,
      Seq(Tuple1(100L)).toDF("__rows"), Seq("__rows"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((100L, "x")))
    // A torn RANGE line (`id TAB long TAB 1`, its max cut off) makes the
    // whole sidecar absent: every read probes or scans that dir and
    // answers exactly, none throws.
    val p3 = java.nio.file.Files.createTempDirectory("snaprb3").toString
    Upsert.writeSnapshot(spark, p3,
      (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, p3,
      (6L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), Seq("id"))
    val torn = new java.io.File(p3 + "/_snapshots", "batch-1.stats")
    val tornLines = scala.io.Source.fromFile(torn).getLines().toList
    assert(tornLines.exists(_.startsWith("id\tlong\t1\t")), tornLines)
    val w3 = new java.io.FileWriter(torn)
    try w3.write(tornLines.map(l =>
      if (l.startsWith("id\tlong\t")) "id\tlong\t1" else l).mkString("\n"))
    finally w3.close()
    // Without its stale checksum file the read reaches the line parser.
    assert(new java.io.File(p3 + "/_snapshots", ".batch-1.stats.crc").delete())
    assert(Upsert.readSnapshotForKeys(spark, p3, 2, Seq(Tuple1(3L)).toDF("id"),
      Seq("id")).as[(Long, String)].collect().toSeq == Seq((3L, "v3")))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-1"),
      s"point read probes the torn dir: ${Upsert.lastProbedDirs.get()}")
    assert(Upsert.readSnapshotWhere(spark, p3, 2, Map("id" -> ((2L, 7L))))
      .as[(Long, String)].collect().toSet ==
      (2L to 7L).map(i => (i, s"v$i")).toSet)
    assert(Upsert.lastProbedDirs.get().toSet == Set("batch-1", "batch-2"),
      s"bounded read probes the torn dir: ${Upsert.lastProbedDirs.get()}")
    assert(Upsert.minMaxSnapshot(spark, p3, 2, "id") == ((Some(1L), Some(10L))))
    assert(Upsert.lastMinMaxScanned.get() == Seq("batch-1"),
      s"min/max scans the torn dir: ${Upsert.lastMinMaxScanned.get()}")
    assert(Upsert.countSnapshot(spark, p3, 2) == 10L)
    assert(Upsert.lastCountScanned.get() == Seq("batch-1"))
  }

  test("keys.cols is written once: later publishes and merges leave it untouched") {
    val path = java.nio.file.Files.createTempDirectory("snapkeys").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    val keysFile = new java.io.File(path + "/_snapshots", "keys.cols")
    def keysText = new String(java.nio.file.Files.readAllBytes(keysFile.toPath), "UTF-8")
    assert(keysText == "id")
    // A sentinel mtime: any rewrite of the file (a truncating create or
    // a tmp-then-rename install) moves it.
    val sentinel = 1000000000L
    assert(keysFile.setLastModified(sentinel))
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1L, "A"), ("I", 4L, "d")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 2L, null.asInstanceOf[String])).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    assert(keysFile.lastModified == sentinel,
      "publishes and merges must not rewrite an unchanged key declaration")
    assert(keysText == "id")
    assert(Upsert.readSnapshot(spark, path, Upsert.latestVersion(spark, path))
      .as[(Long, String)].collect().toSet == Set((1L, "A"), (3L, "c"), (4L, "d")))
  }

  test("wall-clock retention: expireSnapshotsOlderThan keeps every version a reader at ts could see") {
    val path = java.nio.file.Files.createTempDirectory("snapret").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), Seq("id"))
    val t1 = Upsert.publishedAtMs(spark, path, 1)
    Thread.sleep(15)
    Upsert.writeSnapshot(spark, path,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Thread.sleep(15)
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    val t3 = Upsert.publishedAtMs(spark, path, 3)
    // A horizon before the FIRST publish expires nothing.
    assert(Upsert.expireSnapshotsOlderThan(spark, path, t1 - 1000) == 0)
    assert(Upsert.readSnapshot(spark, path, 1).count() == 1)
    // "Keep what a reader at t3 could see as latest" = keep v3 (and
    // nothing older): v1/v2 manifests go, v3 still reads in full.
    Upsert.expireSnapshotsOlderThan(spark, path, t3)
    intercept[IllegalArgumentException] { Upsert.readSnapshot(spark, path, 1) }
    intercept[IllegalArgumentException] { Upsert.readSnapshot(spark, path, 2) }
    assert(Upsert.readSnapshot(spark, path, 3).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "the as-of horizon version survives whole")
  }

  test("readSnapshotWhere: a bound on a column carried only by PRUNED dirs answers empty, never throws") {
    val path = java.nio.file.Files.createTempDirectory("snapvwh").toString
    Upsert.declareSkipCols(spark, path, Seq("extra"))
    // Only batch-1 physically carries `extra` (values 1..10); batch-2
    // has no stats line for it and survives pruning conservatively.
    Upsert.writeSnapshot(spark, path,
      (1L to 50L).map(i => (i, s"v$i", i % 10 + 1)).toDF("id", "v", "extra"),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      (51L to 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // Bound [100,200] excludes batch-1 by its recorded range; the
    // surviving candidate (batch-2) lacks the column physically — the
    // bound must validate against the LOGICAL schema and answer the
    // exact (empty) result in the full logical shape.
    val rd = Upsert.readSnapshotWhere(spark, path, 2,
      Map("extra" -> ((100L, 200L))))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"extra-carrying dir must prune: ${Upsert.lastProbedDirs.get()}")
    assert(rd.columns.sorted.toSeq == Seq("extra", "id", "v"),
      s"full logical shape: ${rd.columns.toSeq}")
    assert(rd.isEmpty, "NULL extra on surviving rows fails the bound")
    // A genuinely unknown column still refuses loudly.
    val e = intercept[IllegalArgumentException] {
      Upsert.readSnapshotWhere(spark, path, 2, Map("nope" -> ((1L, 2L))))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("z-order compaction: a probe on the SECOND column skips files the key sort cannot; content identical") {
    val path = java.nio.file.Files.createTempDirectory("zord").toString
    // 32x32 grid: `a` and `b` uniform, id-sort correlates with `a`
    // only — the exact shape where single-key footer ranges go blind
    // on `b`.
    val rows = (0 until 1024).map(i =>
      (i.toLong, (i / 32).toLong, (i % 32).toLong)).toDF("id", "a", "b")
    Upsert.declareSkipCols(spark, path, Seq("a", "b"))
    Upsert.writeSnapshot(spark, path, rows, Seq("id"), Seq("id"))
    def compactDirOf(v: Int): String =
      scala.io.Source.fromFile(
        new java.io.File(path + "/_snapshots", s"v$v.list"))
        .getLines().map(_.split("\t")(0))
        .find(_.startsWith("compact-")).get
    // Per-FILE b-ranges stand in for footer row-group stats (one row
    // group per small file): a file whose [min_b, max_b] misses the
    // probe band is exactly what the reader's pushed filter skips.
    def intersecting(dir: String): (Int, Int) = {
      val files = new java.io.File(path, dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      val hits = files.count { f =>
        val mm = spark.read.parquet(f.toString)
          .agg(min("b"), max("b")).head()
        !(mm.getLong(1) < 8L || mm.getLong(0) > 15L)
      }
      (hits, files.length)
    }
    val vSorted = Upsert.compactSnapshots(spark, path)
    val (sortHits, sortFiles) = intersecting(compactDirOf(vSorted))
    assert(sortHits == sortFiles,
      s"id-sorted layout must be blind on b (every file spans b): " +
        s"$sortHits/$sortFiles")
    val vZ = Upsert.compactSnapshots(spark, path,
      zOrderBy = Seq("a", "b"), zBits = 5, zShards = 8)
    val (zHits, zFiles) = intersecting(compactDirOf(vZ))
    assert(zHits < zFiles,
      s"z layout must skip files on the second column: $zHits/$zFiles")
    assert(zHits.toDouble / zFiles < sortHits.toDouble / sortFiles,
      s"z fraction ($zHits/$zFiles) must beat the key sort's " +
        s"($sortHits/$sortFiles)")
    // Content identity + the bounded read stays exact and pushed.
    assert(Upsert.readSnapshot(spark, path, vZ)
      .as[(Long, Long, Long)].collect().toSet ==
      rows.as[(Long, Long, Long)].collect().toSet)
    val rd = Upsert.readSnapshotWhere(spark, path, vZ,
      Map("b" -> ((8L, 15L))))
    assert(rd.count() == 32 * 8)
    val plan = rd.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(b,8)"),
      s"b bound must push:\n${plan.take(800)}")
  }

  test("z-ordered bin-pack: the packed dir skips on the second z column; large dirs carried untouched") {
    val path = java.nio.file.Files.createTempDirectory("zpack").toString
    Upsert.declareSkipCols(spark, path, Seq("a", "b"))
    // One LARGE dir (must be carried by reference) + four trickle dirs
    // whose rows grid over (a, b) — the id sort is blind on b.
    Upsert.writeSnapshot(spark, path,
      (10000L to 18000L).map(i => (i, i * 37 % 9973, i * 101 % 9973))
        .toDF("id", "a", "b"),
      Seq("id"), Seq("id"))
    for (s <- 0 until 4)
      Upsert.writeSnapshot(spark, path,
        (0 until 256).map { j =>
          val i = s * 256 + j
          (i.toLong, (i % 1024 / 32).toLong, (i % 32).toLong)
        }.toDF("id", "a", "b"),
        Seq("id"), Seq("id"))
    val largeBytes = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(path, "batch-1"))
      .getLength
    val v = Upsert.compactSnapshots(spark, path,
      smallBytes = largeBytes - 1, zOrderBy = Seq("a", "b"),
      zBits = 5, zShards = 8)
    val entries = scala.io.Source.fromFile(
      new java.io.File(path + "/_snapshots", s"v$v.list"))
      .getLines().map(_.split("\t")(0)).toList
    assert(entries.contains("batch-1"),
      s"the large dir must be carried by reference: $entries")
    val pack = entries.find(_.startsWith("compact-")).get
    // Per-FILE b-ranges: the z layout must leave some packed files
    // outside the probe band (the key sort spans b in every file).
    val files = new java.io.File(path, pack).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val hits = files.count { f =>
      val mm = spark.read.parquet(f.toString).agg(min("b"), max("b")).head()
      !(mm.getLong(1) < 8L || mm.getLong(0) > 15L)
    }
    assert(hits < files.length,
      s"z-ordered pack must skip files on b: $hits/${files.length}")
    // Content identity across the pack.
    assert(Upsert.readSnapshot(spark, path, v).count() == 8001 + 1024)
    assert(Upsert.readSnapshotWhere(spark, path, v,
      Map("id" -> ((0L, 1023L)), "b" -> ((8L, 15L)))).count() == 8 * 32)
  }

  test("merge change record: an erasure completing in the deferred-write window voids the record") {
    val path = java.nio.file.Files.createTempDirectory("snaprec").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "SUBJECT"), (3L, "c")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // The merge deletes key 3 and updates key 2; in the window between
    // its commit and its deferred record write, an erasure removes the
    // subject (key 2) from every version AND sweeps all change records.
    // Without the gen re-validation, the merge would then re-persist
    // the subject's pre/post-images under v2.changes "after the data
    // is gone".
    var fired = false
    Upsert.mergePreRecordHook = () => {
      if (!fired) {
        fired = true
        Upsert.eraseKeys(spark, path, Seq(Tuple1(2L)).toDF("id"), Seq("id"))
      }
    }
    try Upsert.mergeSnapshot(spark, path,
      Seq(("U", 2L, "S2"), ("D", 3L, "")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    finally Upsert.mergePreRecordHook = () => ()
    assert(fired, "hook must have fired")
    val snaps = new java.io.File(path, "_snapshots").listFiles()
      .map(_.getName).filter(_.contains(".changes")).toSeq
    assert(snaps.isEmpty,
      s"record must be abandoned after the erasure's sweep: $snaps")
    // The feed still answers — by key-diff — and never serves the
    // erased subject.
    val feed = Upsert.snapshotChanges(spark, path, 1, 2, Seq("id"))
    assert(Upsert.lastChangesMode.get() == "keydiff")
    assert(feed.filter(col("id") === 2L).isEmpty,
      "erased subject must not surface through the feed")
    assert(feed.filter(col("id") === 3L).select("op").as[String]
      .collect().toSeq == Seq("D"), "the merge's delete still feeds")
  }

  test("operator debris never wedges the sink: malformed claim/touch/list names are ignored") {
    val path = java.nio.file.Files.createTempDirectory("debris").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    // Plant the debris classes an operator (or a crashed tool) can
    // leave: a non-numeric claim, gen/erase touch markers, a stray
    // list-suffixed note. Before the numberedName guard, claimVersion
    // threw NumberFormatException on the claim — failing EVERY
    // subsequent publish until someone hand-deleted the file.
    val snaps = new java.io.File(path, "_snapshots")
    for (n <- Seq("vSTALE.claim", "gen-old.touch", "erase-x.touch",
        "vREADME.list"))
      assert(new java.io.File(snaps, n).createNewFile())
    // Writers proceed: append AND merge (merge exercises rewriteGen's
    // fingerprint parse over the gen- debris).
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), Seq("id"))
    val v3 = Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1L, "A")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path, v3).as[(Long, String)]
      .collect().toMap == Map(1L -> "A", 2L -> "b", 3L -> "c"))
    // Maintenance proceeds: expiry (claim + touch sweeps) and vacuum.
    Upsert.expireSnapshots(spark, path, keepFrom = v3)
    Upsert.vacuumOrphans(spark, path)
    assert(Upsert.readSnapshot(spark, path, v3).count() == 3)
    // The debris itself is left alone (not silently deleted — it is
    // not ours) and publishes keep working after the sweeps.
    assert(new java.io.File(snaps, "vSTALE.claim").exists())
    Upsert.writeSnapshot(spark, path,
      Seq((4L, "d")).toDF("id", "v"), Seq("id"), Seq("id"))
    assert(Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).count() == 4)
  }
}
