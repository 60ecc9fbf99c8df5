package graft

import graft.ops.Upsert
import graft.streaming.EventStream
import graft.table.Sidecars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A merge's change record and every dir's stats ride the merge's own
  * jobs: the stats and the bloom are observed on the write, the record
  * stores only the classify pass's pre-images and names the landing dir
  * as its new side. The composed feed must equal the key-diff. */
class ChangeRecordSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("id")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000L)

  private def rows(ids: Seq[Long], x: Double): DataFrame =
    ids.map(i => (i, ts(i), s"g${i % 3}", i + x)).toDF("id", "ts", "g", "x")

  /** Change rows: an op and a key each; every row moves its key's time
    * and group, so a U changes every column. */
  private def changes(x: Double)(cs: (String, Long)*): DataFrame =
    cs.map { case (op, i) => (op, i, ts(i + 1), s"g${(i + 1) % 3}", i + x) }
      .toDF("op", "id", "ts", "g", "x")

  private def fsOf(path: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  test("stats and blooms ride the write jobs; a merge with pre-images records in one job") {
    val path = tmp("rec-jobs")
    Upsert.declareSkipCols(spark, path, Seq("ts"))
    // The first publish has no key bound, so its bloom is a pass of its
    // own; every measured operation below has one.
    Upsert.writeSnapshot(spark, path, rows(1L to 40L, 0.5), keys, keys)
    def jobs(body: => Any) = JobProbe.jobsOf(spark)(body)
    val ops = Seq(
      "writeSnapshot" -> jobs(Upsert.writeSnapshot(spark, path,
        rows(41L to 60L, 0.5), keys, keys)),
      "mergeSnapshot" -> jobs(Upsert.mergeSnapshot(spark, path,
        changes(1.5)("U" -> 3L, "D" -> 7L, "I" -> 100L), keys, keys, "op")),
      "mergeSnapshotMoR" -> jobs(Upsert.mergeSnapshotMoR(spark, path,
        changes(2.5)("U" -> 13L, "D" -> 17L, "I" -> 101L), keys, keys, "op")),
      "pure-insert merge" -> jobs(Upsert.mergeSnapshot(spark, path,
        changes(3.5)("I" -> 200L, "I" -> 201L, "D" -> 9999L), keys, keys, "op")),
      "compactSnapshots" -> jobs(Upsert.compactSnapshots(spark, path)),
      "eraseKeys" -> jobs(Upsert.eraseKeys(spark, path,
        Seq(5L, 41L).toDF("id"), keys)))
    for ((op, js) <- ops) {
      val passes = js.map(_.desc)
        .filter(d => d.startsWith("graft.stats ") || d.startsWith("graft.bloom "))
      assert(passes.isEmpty, s"$op re-read a dir it wrote: $passes")
      val records = js.count(_.desc == "graft.changeRecord")
      val want = if (op == "mergeSnapshot" || op == "mergeSnapshotMoR") 1 else 0
      assert(records == want,
        s"$op submitted $records change-record jobs, want $want: ${js.map(_.desc)}")
    }
    // The observed facts are the data's: every live dir has its stats
    // (the timestamp line included) and its bloom, and the metadata
    // answers equal the scan's.
    val fs = fsOf(path)
    val v = Upsert.latestVersion(spark, path)
    for (e <- Upsert.manifestEntries(spark, path, v)) {
      val st = Sidecars.stats(fs, path, e.dir)
      assert(st.exists(_.ranges.get("ts").exists(_._1 == "ts")),
        s"${e.dir} lacks its ts range: $st")
      assert(Sidecars.bloom(fs, path, e.dir).isDefined, s"${e.dir} lacks its bloom")
    }
    val live = Upsert.readSnapshot(spark, path, v)
    val scan = live.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      count(lit(1))).head()
    assert(Upsert.minMaxSnapshot(spark, path, v, "ts") ==
      ((Some(scan.getLong(0)), Some(scan.getLong(1)))))
    assert(Upsert.lastMinMaxScanned.get().isEmpty)
    assert(Upsert.countSnapshot(spark, path, v) == scan.getLong(2))
    assert(Upsert.lastCountScanned.get().isEmpty)
  }

  test("recorded feed: pre-images and the named landing dir equal the key-diff over every span") {
    val path = tmp("rec-format")
    val agg = tmp("rec-format-agg")
    val fs = fsOf(path)
    def meta(v: Int): Seq[String] = scala.io.Source.fromFile(
      s"$path/_snapshots/v$v.changes.meta").getLines().toList
    /** A poll after the bootstrap consumes the feed of its span. */
    def poll(bootstrap: Boolean = false): Unit = {
      EventStream.changeFeedAggregatePoll(spark, path, keys, agg, Seq("g"), "x")
      if (!bootstrap)
        assert(Upsert.lastChangesMode.get().startsWith("recorded:"),
          s"the poll's span must compose: ${Upsert.lastChangesMode.get()}")
      val want = Upsert.readSnapshot(spark, path, Upsert.latestVersion(spark, path))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
          min("x").as("lo"), max("x").as("hi"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val got = Upsert.readSnapshot(spark, agg, Upsert.latestVersion(spark, agg))
        .select(col("g"), col("n"), col("sum_v").cast("double"), col("min_v"),
          col("max_v"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      assert(got == want, "the feed-maintained aggregate diverged")
    }
    // v1 base; v2 copy-on-write (a U on an absent key lands as I); v3
    // merge-on-read touching v2's landing rows; v4 a pure insert (and a
    // delete of an absent key); v5 a full compaction, which moves the
    // landing dirs of v2..v4 out of the latest version; v6 merge-on-read
    // over the compacted dir.
    Upsert.writeSnapshot(spark, path, rows(1L to 30L, 0.25), keys, keys)
    poll(bootstrap = true)
    Upsert.mergeSnapshot(spark, path, changes(1.25)("U" -> 3L, "U" -> 4L,
      "D" -> 7L, "I" -> 40L, "U" -> 50L), keys, keys, "op")
    poll()
    Upsert.mergeSnapshotMoR(spark, path, changes(2.25)("U" -> 4L, "D" -> 3L,
      "U" -> 11L, "I" -> 41L), keys, keys, "op")
    poll()
    Upsert.mergeSnapshot(spark, path, changes(3.25)("I" -> 60L, "I" -> 61L,
      "D" -> 999L), keys, keys, "op")
    poll()
    Upsert.compactSnapshots(spark, path)
    Upsert.mergeSnapshotMoR(spark, path, changes(4.25)("U" -> 40L,
      "D" -> 41L, "I" -> 70L), keys, keys, "op")
    poll()
    assert(Upsert.latestVersion(spark, path) == 6)
    assert(!Upsert.manifestEntries(spark, path, 6).exists(_.dir.startsWith("merge-2")),
      "the compaction must have moved v2's landing dir out of the latest")
    // The layout: a merge stores only its pre-images and names its
    // landing dir; a merge without pre-images is an append record.
    assert(meta(2) == Seq("kind\tdelta", "base\t1", "dir\tmerge-2"), meta(2))
    assert(spark.read.parquet(s"$path/_snapshots/v2.changes")
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 7L),
      "v2's record holds the pre-images of the replaced and deleted keys")
    assert(meta(4) == Seq("kind\tappend", "base\t3", "dir\tmerge-4"), meta(4))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_snapshots/v4.changes")))
    val spans = Seq((1, 3), (2, 3), (3, 4), (1, 4), (2, 6), (4, 6), (1, 6))
    def feed(from: Int, to: Int, pre: Boolean): Set[Seq[Any]] =
      (if (pre) Upsert.snapshotChangesWithPreImages(spark, path, from, to, keys)
       else Upsert.snapshotChanges(spark, path, from, to, keys))
        .select("op", "id", "ts", "g", "x").collect().map(_.toSeq).toSet
    val recorded = (for ((f, t) <- spans; pre <- Seq(false, true)) yield {
      val r = feed(f, t, pre)
      assert(Upsert.lastChangesMode.get().startsWith("recorded:"),
        s"$f..$t must compose: ${Upsert.lastChangesMode.get()}")
      (f, t, pre) -> r
    }).toMap
    assert(recorded((1, 6, false)).nonEmpty)
    // A record of the old layout (no landing dir) reads as no record.
    val v2Meta = new org.apache.hadoop.fs.Path(path, "_snapshots/v2.changes.meta")
    fs.delete(v2Meta, false)
    val out = fs.create(v2Meta)
    try out.write("kind\tdelta\nbase\t1".getBytes("UTF-8")) finally out.close()
    assert(feed(1, 3, pre = true) == recorded((1, 3, true)))
    assert(Upsert.lastChangesMode.get() == "keydiff")
    // With every record gone, the key-diff gives every span's feed.
    fs.listStatus(new org.apache.hadoop.fs.Path(path, "_snapshots"))
      .map(_.getPath).filter(_.getName.contains(".changes"))
      .foreach(fs.delete(_, true))
    for (((f, t, pre), r) <- recorded) {
      assert(feed(f, t, pre) == r, s"$f..$t (pre-images: $pre) diverged")
      assert(Upsert.lastChangesMode.get() == "keydiff")
    }
    // An erasure sweeps the records of the span it rewrote.
    Upsert.mergeSnapshot(spark, path, changes(5.25)("U" -> 60L, "I" -> 80L),
      keys, keys, "op")
    val before = feed(6, 7, pre = false)
    assert(Upsert.lastChangesMode.get() == "recorded:7")
    Upsert.eraseKeys(spark, path, Seq(80L).toDF("id"), keys)
    val after = feed(6, 7, pre = false)
    assert(Upsert.lastChangesMode.get() == "keydiff")
    assert(after == before.filterNot(_(1) == 80L), after)
  }
}
