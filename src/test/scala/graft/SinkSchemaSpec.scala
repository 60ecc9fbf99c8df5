package graft

import graft.ops.Upsert
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink-dir schemas come from driver metadata: no snapshot read or
  * write submits Spark's parquet schema-discovery job, while reads keep
  * the column order and NULL-fill a `mergeSchema` read gives. Also the
  * erase's claim wait: spent erase epochs never stall a later erase. */
class SinkSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Stage names of the schema-discovery jobs `body` submits: a
    * `parquet at …` stage outside any SQL execution. (A parquet WRITE's
    * job carries the same stage name, but runs inside an execution.) */
  private def discoveryJobs(body: => Any): Seq[String] =
    JobProbe.jobsOf(spark)(body).filterNot(_.inSql)
      .flatMap(_.stages.filter(_.startsWith("parquet at")))

  private def run(df: DataFrame): Unit = { df.collect(); () }

  test("sink operations submit no parquet schema-discovery job") {
    val path = tmp("schema-jobs")
    val agg = tmp("schema-jobs-agg")
    val ckpt = tmp("schema-jobs-ckpt")
    val keys = Seq("id")
    Upsert.writeSnapshot(spark, path,
      (1L to 40L).map(i => (i, s"g${i % 3}", i.toDouble)).toDF("id", "g", "v"),
      keys, keys)
    Upsert.writeSnapshot(spark, path,
      (41L to 60L).map(i => (i, s"g${i % 3}", i.toDouble)).toDF("id", "g", "v"),
      keys, keys)
    EventStream.changeFeedAggregatePoll(spark, path, keys, agg, Seq("g"), "v")
    def stream(): Unit = {
      val q = spark.readStream.format("graft").option("changeFeed", "true")
        .load(path).writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) => df.count(); () }.start()
      try q.processAllAvailable() finally q.stop()
    }
    stream()
    def changes(n: Long) = Seq(("U", 3L + n, "g9", -1.0), ("D", 7L + n, "", 0.0),
      ("I", 100L + n, "g1", 5.0)).toDF("op", "id", "g", "v")
    val before = Upsert.latestVersion(spark, path)
    val ops: Seq[(String, () => Any)] = Seq(
      "mergeSnapshotMoR" -> (() =>
        Upsert.mergeSnapshotMoR(spark, path, changes(0), keys, keys, "op")),
      "mergeSnapshot" -> (() =>
        Upsert.mergeSnapshot(spark, path, changes(10), keys, keys, "op")),
      "mergeSnapshotMoR (dvs on dvs)" -> (() =>
        Upsert.mergeSnapshotMoR(spark, path, changes(20), keys, keys, "op")),
      "changeFeedAggregatePoll" -> (() => EventStream.changeFeedAggregatePoll(
        spark, path, keys, agg, Seq("g"), "v")),
      "readSnapshot" -> (() => run(Upsert.readSnapshot(spark, path,
        Upsert.latestVersion(spark, path)))),
      "format(graft) range read" -> (() => run(spark.read.format("graft")
        .load(path).filter(col("id").between(5L, 30L)))),
      "readSnapshotForKeys" -> (() => run(Upsert.readSnapshotForKeys(spark,
        path, Upsert.latestVersion(spark, path), Seq(4L, 13L, 50L).toDF("id"),
        keys))),
      "readSnapshotAsOf" -> (() => run(Upsert.readSnapshotAsOf(spark, path,
        Upsert.publishedAtMs(spark, path, before)))),
      "snapshotChanges" -> (() => run(Upsert.snapshotChanges(spark, path,
        before, Upsert.latestVersion(spark, path), keys))),
      "change-feed stream catch-up" -> (() => stream()),
      "compactSnapshots" -> (() => Upsert.compactSnapshots(spark, path)),
      "eraseKeys" -> (() => Upsert.eraseKeys(spark, path,
        Seq(1L, 42L).toDF("id"), keys)),
      "changeFeedAggregatePoll after erase" -> (() =>
        EventStream.changeFeedAggregatePoll(spark, path, keys, agg,
          Seq("g"), "v")))
    val found = ops.map { case (name, op) => name -> discoveryJobs(op()) }
      .filter(_._2.nonEmpty)
    assert(found.isEmpty, s"schema-discovery jobs: ${found.mkString("; ")}")
    // The pinned reads still see the merged content.
    val latest = Upsert.readSnapshot(spark, path, Upsert.latestVersion(spark, path))
      .as[(Long, String, Double)].collect().map(r => r._1 -> r).toMap
    assert(!latest.contains(1L) && !latest.contains(42L) &&
      !latest.contains(7L) && !latest.contains(27L))
    assert(latest(3L) == ((3L, "g9", -1.0)) && latest(100L) == ((100L, "g1", 5.0)))
    assert(latest.size == 60 - 2 - 3 + 3)
  }

  test("dirs that differ by added columns read with the mergeSchema column order and NULLs") {
    val path = tmp("schema-evolve")
    Upsert.writeSnapshot(spark, path, Seq((1L, "a")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    // batch-2 … batch-10: batch-2 adds `x`, batch-10 adds `y`. Spark
    // folds footers in PATH order (batch-10 sorts before batch-2), so
    // the inferring read puts `y` before `x`.
    (2L to 10L).foreach { i =>
      val df = Seq((i, s"r$i")).toDF("id", "v")
      Upsert.writeSnapshot(spark, path,
        if (i == 2L) df.withColumn("x", lit(i.toInt))
        else if (i == 10L) df.withColumn("y", lit(s"y$i"))
        else df, Seq("id"), Seq("id"))
    }
    val v = Upsert.latestVersion(spark, path)
    val dirs = Upsert.manifestEntries(spark, path, v).map(e => s"$path/${e.dir}")
    val inferred = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    val read = Upsert.readSnapshot(spark, path, v)
    assert(read.schema == inferred.schema)
    assert(read.columns.toSeq == Seq("id", "v", "y", "x"))
    val rows = read.as[(Long, String, Option[String], Option[Int])].collect()
      .map(r => r._1 -> r).toMap
    assert(rows(1L) == ((1L, "a", None, None)))
    assert(rows(2L) == ((2L, "r2", None, Some(2))))
    assert(rows(10L) == ((10L, "r10", Some("y10"), None)))
    assert(spark.read.format("graft").load(path).schema == inferred.schema)
  }

  test("a sink re-created at the same path never serves the dead sink's schema") {
    val path = tmp("schema-recreate")
    Upsert.writeSnapshot(spark, path, Seq((1L, "a")).toDF("id", "v"),
      Seq("id"), Seq("id"))
    assert(Upsert.readSnapshot(spark, path, 1).columns.toSeq == Seq("id", "v"))
    assert(spark.read.format("graft").load(path).columns.toSeq == Seq("id", "v"))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(path))
    Upsert.writeSnapshot(spark, path, Seq((1L, 2.5, 7)).toDF("id", "w", "z"),
      Seq("id"), Seq("id"))
    // Same dir name (batch-1), same version: only the dir's identity differs.
    val again = Upsert.readSnapshot(spark, path, 1)
    assert(again.columns.toSeq == Seq("id", "w", "z"))
    assert(again.as[(Long, Double, Int)].collect().toSeq == Seq((1L, 2.5, 7)))
    assert(spark.read.format("graft").load(path).columns.toSeq ==
      Seq("id", "w", "z"))
  }

  test("an erase right after an erase does not wait; a fresh foreign claim still does") {
    val path = tmp("erase-claims")
    Upsert.writeSnapshot(spark, path,
      (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), Seq("id"))
    def timedErase(id: Long): Long = {
      val t0 = System.nanoTime()
      assert(Upsert.eraseKeys(spark, path, Seq(id).toDF("id"), Seq("id")) == 1L)
      (System.nanoTime() - t0) / 1000000L
    }
    timedErase(1L)
    // The first erase's epoch claims stay on disk, fresh: they are spent,
    // not in-flight appenders, so the window (5 s) is not waited out.
    val quiet = timedErase(2L)
    assert(quiet < 5000L, s"second erase waited: $quiet ms")
    // An appender's claim (empty, fresh, never published) holds the
    // commit for the whole window.
    val claim = new java.io.File(path, "_snapshots/v1000.claim")
    assert(claim.createNewFile())
    val held = timedErase(3L)
    assert(held >= 5000L, s"erase must wait out an in-flight claim: $held ms")
    assert(Upsert.readSnapshot(spark, path, Upsert.latestVersion(spark, path))
      .filter(col("id") <= 3L).count() == 0L)
  }
}
