package graft

import graft.ops.Upsert
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors: a 1-row update must publish a new
  * version with ZERO data-dir rewrites (the dv + landing dir are the
  * whole write), while every read surface — time travel, change feed,
  * metadata COUNT/MIN/MAX, keep-existing probes, compaction, erasure,
  * expiry, the DSv2 relation — stays exact against the logical table. */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def topDirs(path: String): Set[String] =
    new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet

  private def filesOf(path: String, dir: String): Set[String] =
    new java.io.File(path, dir).listFiles().map(_.getName).toSet

  private def entriesOf(path: String, v: Int): Seq[String] =
    scala.io.Source.fromFile(
      new java.io.File(path + "/_snapshots", s"v$v.list"))
      .getLines().toList

  /** v1 = keys 1..10, v2 = keys 11..20 appended. */
  private def buildSink(): String = {
    val path = java.nio.file.Files.createTempDirectory("mor").toString
    Upsert.writeSnapshot(spark, path,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path,
      (11L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    path
  }

  test("MoR merge: a 1-row update publishes with ZERO data-dir rewrites; reads and history stay exact") {
    val path = buildSink()
    val before = topDirs(path)
    val b1Files = filesOf(path, "batch-1")
    val v3 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("U", 3L, "UPDATED"), ("D", 7L, "")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    // No `-m` copy-on-write rewrite anywhere; only the landing dir and
    // the dv appeared, and the touched dir's files are untouched.
    val added = topDirs(path) -- before
    assert(added.forall(d => d.startsWith("merge-") || d.startsWith("dv-")),
      s"MoR must not rewrite data dirs, added: $added")
    assert(added.count(_.startsWith("dv-")) == 1, s"one dv: $added")
    assert(filesOf(path, "batch-1") == b1Files,
      "the touched dir's physical files must be untouched")
    // The manifest entry carries the dv annotation.
    val line = entriesOf(path, v3).find(_.startsWith("batch-1")).get
    assert(line.contains("\t") && line.contains("dv-"),
      s"entry must annotate the dv: $line")
    // Logical content: update applied, delete gone, rest intact.
    assert(Upsert.readSnapshot(spark, path, v3).as[(Long, String)]
      .collect().toMap ==
      ((1L to 20L).filterNot(_ == 7L)
        .map(i => i -> (if (i == 3L) "UPDATED" else s"v$i")).toMap))
    // Time travel: pre-dv versions read the dir WITHOUT the dv.
    assert(Upsert.readSnapshot(spark, path, 2)
      .filter(col("id").isin(3L, 7L)).as[(Long, String)]
      .collect().toSet == Set((3L, "v3"), (7L, "v7")))
    // Metadata COUNT subtracts the dv at sidecar cost; MIN/MAX stays
    // metadata-only too — the dv's own key box ([3,7]) cannot contain
    // either dir bound (1, 10), so the extremes are provably alive.
    assert(Upsert.countSnapshot(spark, path, v3) == 19)
    assert(Upsert.lastCountScanned.get().isEmpty,
      s"count must stay metadata-only: ${Upsert.lastCountScanned.get()}")
    val (lo, hi) = Upsert.minMaxSnapshot(spark, path, v3, "id")
    assert((lo, hi) == ((Some(1L), Some(20L))))
    assert(Upsert.lastMinMaxScanned.get().isEmpty,
      s"untouched bounds answer at metadata cost: ${
        Upsert.lastMinMaxScanned.get()}")
    // Deleting the extreme key: the dv box TOUCHES the dir's recorded
    // max, so exactly that entry falls back — and never serves the
    // dead row.
    val v4 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 20L, "")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    assert(Upsert.minMaxSnapshot(spark, path, v4, "id")._2 == Some(19L))
    assert(Upsert.lastMinMaxScanned.get() == Seq("batch-2"),
      s"only the touched-bound entry falls back: ${
        Upsert.lastMinMaxScanned.get()}")
  }

  test("MoR change feed: recorded path exact; key-diff path sees dv-only entry changes") {
    val path = buildSink()
    val v3 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("U", 3L, "U3"), ("D", 7L, ""), ("I", 30L, "I30"))
        .toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val rec = Upsert.snapshotChanges(spark, path, 2, v3, Seq("id"))
      .as[(String, Long, String)].collect().toSet
    assert(Upsert.lastChangesMode.get().startsWith("recorded:"),
      s"MoR merge must still write its record: ${Upsert.lastChangesMode.get()}")
    assert(rec == Set(("U", 3L, "U3"), ("D", 7L, "v7"), ("I", 30L, "I30")),
      s"exact I/U/D set: $rec")
    // Break the record chain → the key-diff must see the dv-ONLY
    // entry change (same dir name on both sides, different dv set).
    new java.io.File(path + "/_snapshots", s"v$v3.changes.meta").delete()
    val kd = Upsert.snapshotChanges(spark, path, 2, v3, Seq("id"))
      .as[(String, Long, String)].collect().toSet
    assert(Upsert.lastChangesMode.get() == "keydiff")
    assert(kd == rec, s"key-diff must equal the recorded feed: $kd")
  }

  test("MoR then COW: a copy-on-write rewrite of a dv'd dir FOLDS the dv — no resurrection") {
    val path = buildSink()
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 3L, "")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    // COW merge touches ANOTHER key in the same dir: its rewrite must
    // not carry the dv-dead key 3 back to life.
    val v4 = Upsert.mergeSnapshot(spark, path,
      Seq(("U", 5L, "U5")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    val got = Upsert.readSnapshot(spark, path, v4).as[(Long, String)]
      .collect().toMap
    assert(!got.contains(3L), "dv-dead key resurrected by the COW fold")
    assert(got(5L) == "U5" && got.size == 19)
    // The rewrite sheds the annotation: no dv ref on the new entry.
    assert(!entriesOf(path, v4).exists(l =>
        l.startsWith("batch-1") && l.contains("\t")),
      s"fold must shed the dv annotation: ${entriesOf(path, v4)}")
  }

  test("keep-existing after a MoR delete: the re-insert LANDS (append and merge-I paths)") {
    val path = buildSink()
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 3L, ""), ("D", 4L, "")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    // Plain append path.
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "REBORN")).toDF("id", "v"), Seq("id"), Seq("id"))
    // Merge-I path (keep-existing presence probe).
    val v5 = Upsert.mergeSnapshot(spark, path,
      Seq(("I", 4L, "REBORN4")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val got = Upsert.readSnapshot(spark, path, v5).as[(Long, String)]
      .collect().toMap
    assert(got(3L) == "REBORN" && got(4L) == "REBORN4",
      s"re-inserts of dv-dead keys must land: $got")
  }

  test("compaction folds dvs; expiry reclaims them with their versions") {
    val path = buildSink()
    val v3 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("U", 3L, "U3"), ("D", 7L, "")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val expected = Upsert.readSnapshot(spark, path, v3)
      .as[(Long, String)].collect().toSet
    val v4 = Upsert.compactSnapshots(spark, path)
    assert(Upsert.readSnapshot(spark, path, v4).as[(Long, String)]
      .collect().toSet == expected, "compaction is content-identical")
    assert(!entriesOf(path, v4).exists(_.contains("\t")),
      "compacted manifest has no dv annotations")
    // The dv file survives while v3 still references it…
    val dv = topDirs(path).find(_.startsWith("dv-")).get
    assert(Upsert.expireSnapshots(spark, path, keepFrom = v3) >= 0)
    assert(topDirs(path).contains(dv), "dv referenced by v3 must survive")
    // …and reclaims once every referencing version expires.
    Upsert.expireSnapshots(spark, path, keepFrom = v4)
    assert(!topDirs(path).contains(dv), "dv of expired versions reclaims")
    assert(Upsert.readSnapshot(spark, path, v4).as[(Long, String)]
      .collect().toSet == expected)
    // Vacuum never eats a live dv.
    val v5 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 9L, "")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    val dv2 = topDirs(path).find(_.startsWith("dv-")).get
    Upsert.vacuumOrphans(spark, path)
    assert(topDirs(path).contains(dv2), "vacuum must keep referenced dvs")
    assert(Upsert.countSnapshot(spark, path, v5) == expected.size - 1)
  }

  test("compactSmallDirs folds the dvs of packed entries") {
    val path = buildSink()
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 3L, "")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    val expected = Upsert.readSnapshot(spark, path,
      Upsert.latestVersion(spark, path)).as[(Long, String)].collect().toSet
    val v = Upsert.compactSnapshots(spark, path, smallBytes = Long.MaxValue)
    assert(Upsert.readSnapshot(spark, path, v).as[(Long, String)]
      .collect().toSet == expected)
    assert(!entriesOf(path, v).exists(_.contains("\t")),
      s"pack must fold dvs: ${entriesOf(path, v)}")
  }

  test("eraseKeys on a MoR sink: subject gone from data AND dv files, every version") {
    val path = buildSink()
    // Subject key 3: first dv-deleted (its key value now lives in the
    // dv file), subject key 8 still live.
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 3L, "")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    val erased = Upsert.eraseKeys(spark, path,
      Seq(3L, 8L).toDF("id"), Seq("id"))
    // Data rows erased: key 3 (physical in batch-1) + key 8 — the dv's
    // tombstone row is purged too but does not count as a data row.
    assert(erased == 2L, s"rows erased: $erased")
    val latest = Upsert.latestVersion(spark, path)
    for (v <- 1 to latest)
      if (new java.io.File(path + "/_snapshots", s"v$v.list").exists())
        assert(Upsert.readSnapshot(spark, path, v)
          .filter(col("id").isin(3L, 8L)).isEmpty, s"subject at v$v")
    // No dv file anywhere still holds a subject key value.
    topDirs(path).filter(_.startsWith("dv-")).foreach { d =>
      assert(spark.read.parquet(s"$path/$d")
        .filter(col("id").isin(3L, 8L)).isEmpty,
        s"subject key survives in dv $d")
    }
    // The sink still works: count consistent, merge applies.
    assert(Upsert.countSnapshot(spark, path, latest) == 18)
    val v6 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("U", 5L, "U5")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    assert(Upsert.readSnapshot(spark, path, v6).as[(Long, String)]
      .collect().toMap.get(5L) == Some("U5"))
  }

  test("DSv2 relation over a MoR sink: reads, pushed count, bounded read all resolve dvs") {
    val path = buildSink()
    val v3 = Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 7L, ""), ("U", 3L, "U3")).toDF("op", "id", "v"),
      Seq("id"), Seq("id"), "op")
    val df = spark.read.format("graft").load(path)
    assert(df.count() == 19)
    assert(df.filter(col("id") === 7L).isEmpty)
    assert(df.agg(count(lit(1))).as[Long].head() == 19L,
      "pushed COUNT(*) must subtract the dv")
    assert(df.filter(col("id") >= 1L && col("id") <= 10L).count() == 9)
    // refreshAggregate: the MoR merge bumped the rewrite generation →
    // the next refresh recomputes instead of trusting a stale delta.
    val agg = java.nio.file.Files.createTempDirectory("moragg").toString
    Upsert.refreshAggregate(spark, path, agg, Seq("v"), "id")
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 9L, "")).toDF("op", "id", "v"), Seq("id"), Seq("id"), "op")
    Upsert.refreshAggregate(spark, path, agg, Seq("v"), "id")
    assert(Upsert.lastRefresh.get() == "recompute",
      s"MoR content change must force recompute: ${Upsert.lastRefresh.get()}")
    val direct = Upsert.readSnapshot(spark, path,
        Upsert.latestVersion(spark, path))
      .groupBy("v").agg(count(lit(1)).as("n")).as[(String, Long)]
      .collect().toMap
    val maintained = Upsert.readSnapshot(spark, agg,
        Upsert.latestVersion(spark, agg))
      .select(col("v"), col("n")).as[(String, Long)].collect().toMap
    assert(maintained == direct, s"$maintained vs $direct")
  }
}
