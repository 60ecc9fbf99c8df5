package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-evolution reads: a dataset whose early part files lack columns
  * later ones carry must read identically through the mergeSchema
  * footer-union path and the catalog-pinned superset-schema path (the
  * 100 TB form that skips the per-file footer job). */
class EvolvingSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvolved(path: String): Unit = {
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "n")
      .write.mode("overwrite").parquet(path)
    Seq((3L, "c", 30, "en"), (4L, "d", 40, "fr")).toDF("id", "s", "n", "lang")
      .write.mode("append").parquet(path)
  }

  test("mergeSchema and pinned-superset reads agree, null-filling gen-1 rows") {
    val path = java.nio.file.Files.createTempDirectory("evolved").toString
    writeEvolved(path)
    val merged = Tables.readParquetEvolved(spark, path)
      .select("id", "s", "n", "lang").orderBy("id")
    val pinned = Tables.readParquetEvolved(spark, path,
        Some(StructType.fromDDL("id LONG, s STRING, n INT, lang STRING")))
      .select("id", "s", "n", "lang").orderBy("id")
    val m = merged.as[(Long, String, Int, Option[String])].collect().toSeq
    val p = pinned.as[(Long, String, Int, Option[String])].collect().toSeq
    assert(m == p, "footer-union and pinned-schema reads must be identical")
    assert(m == Seq((1L, "a", 10, None), (2L, "b", 20, None),
      (3L, "c", 30, Some("en")), (4L, "d", 40, Some("fr"))))
  }

  test("pinned read also projects a SUBSET without touching dropped columns") {
    // Column pruning composes with evolution: asking only for gen-0
    // columns reads every file without mentioning lang at all.
    val path = java.nio.file.Files.createTempDirectory("evolved2").toString
    writeEvolved(path)
    val sub = Tables.readParquetEvolved(spark, path,
        Some(StructType.fromDDL("id LONG, n INT")))
      .orderBy("id").as[(Long, Int)].collect().toSeq
    assert(sub == Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40)))
  }

  test("testdata events.ts reads as session-local timestamps whatever the generation's encoding") {
    // The generator has produced two physical encodings across rounds
    // (see TESTDATA.md): timestamp[ns] (rounds ≤ 9; nanosAsLong +
    // div-conversion) and timestamp[us] without the UTC flag (round 10+;
    // NTZ inference disabled). Tables.table must yield plain LTZ
    // TimestampType either way — time-arithmetic functions usable, no
    // cast on the scan — and, for the NTZ generation, values must be
    // the naive datetimes reinterpreted under the UTC session (what the
    // DuckDB oracle sees). Note: this pins PYARROW-written files (no
    // Spark schema metadata in the footer — a Spark NTZ write carries
    // its own schema and bypasses inference entirely).
    val dir = "/root/testdata/sf0.001"
    val back = Tables.table(spark, dir, "events")
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"expected LTZ TimestampType, got ${back.schema("ts").dataType}")
    assert(back.select(unix_micros(col("ts"))).limit(1).collect().nonEmpty)
    // A FRESH session (default confs — NTZ inference on, no legacy
    // nanos) sees the raw encoding; when that is TIMESTAMP_NTZ, its
    // naive rendering must equal the UTC-session rendering of ours.
    val fresh = spark.newSession()
    val rawType = fresh.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    if (rawType == org.apache.spark.sql.types.TimestampNTZType) {
      val naive = fresh.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .orderBy("event_id").limit(100).collect().map(r => (r.getLong(0), r.getString(1)))
      val ltz = back
        .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .orderBy("event_id").limit(100).collect().map(r => (r.getLong(0), r.getString(1)))
      assert(naive.toSeq == ltz.toSeq,
        "NTZ naive datetimes must reinterpret value-identically under the UTC session")
    } else info(s"raw encoding is $rawType (ns generation) — conversion path covered above")
  }

  test("snapshot declared evolution: addColumn/renameColumn are metadata; reads heal, writes normalize, keys refuse") {
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("snapevo").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"),
      Seq("id"), Seq("id"))
    // addColumn surfaces a TYPED NULL before any data carries it.
    Upsert.addColumn(spark, path, "lang",
      org.apache.spark.sql.types.StringType)
    val r1 = Upsert.readSnapshot(spark, path, 1)
    assert(r1.columns.toSeq == Seq("id", "v", "n", "lang") &&
      r1.schema("lang").dataType ==
        org.apache.spark.sql.types.StringType, r1.columns.toSeq)
    assert(r1.select("lang").collect().forall(_.isNullAt(0)))
    // renameColumn heals OLD dirs at read time…
    Upsert.renameColumn(spark, path, "v", "val")
    // …normalizes a producer still emitting the dead name (no fork)…
    Upsert.writeSnapshot(spark, path,
      Seq((3L, "c", 30L)).toDF("id", "v", "n"), Seq("id"), Seq("id"))
    // …and the live name lands plainly, lang data included.
    Upsert.writeSnapshot(spark, path,
      Seq((4L, "d", 40L, "en")).toDF("id", "val", "n", "lang"),
      Seq("id"), Seq("id"))
    val got = Upsert.readSnapshot(spark, path,
        Upsert.latestVersion(spark, path))
      .select("id", "val", "n", "lang")
      .as[(Long, String, Long, Option[String])].collect().toSet
    assert(got == Set((1L, "a", 10L, None), (2L, "b", 20L, None),
      (3L, "c", 30L, None), (4L, "d", 40L, Some("en"))), got)
    // The normalized batch physically carries the LIVE name.
    val b2 = spark.read.parquet(s"$path/batch-2").columns.toSeq
    assert(b2.contains("val") && !b2.contains("v"),
      s"dead-name batch must normalize: $b2")
    // A merge by the live name applies across pre- and post-rename
    // dirs (the rewrite keeps physical names; the read heals).
    Upsert.mergeSnapshot(spark, path,
      Seq(("U", 1L, "A2", 11L)).toDF("op", "id", "val", "n"),
      Seq("id"), Seq("id"), "op")
    val m = Upsert.readSnapshot(spark, path,
        Upsert.latestVersion(spark, path))
      .select("id", "val").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "A2", 2L -> "b", 3L -> "c", 4L -> "d"), m)
    // Historical versions heal too (time travel sees today's logical
    // schema — the map is sink-level, not version-level).
    assert(Upsert.readSnapshot(spark, path, 1).columns.contains("val"))
    // Keys are identity: rename refuses; a dead name as a merge key
    // refuses loudly instead of forking.
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(spark, path, "id", "doc")
    }
    intercept[IllegalArgumentException] {
      Upsert.mergeSnapshot(spark, path,
        Seq(("U", "x", 9L)).toDF("op", "v", "id"),
        Seq("v"), Seq("v"), "op")
    }
    // A threshold pack reads its dirs RAW, so it matches the carried
    // dirs' physical schema: a pre-rename and a post-rename trickle dir
    // pack side by side while a large dir carries; logical rows stay.
    val pp = java.nio.file.Files.createTempDirectory("snapevopack").toString
    Upsert.writeSnapshot(spark, pp,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.renameColumn(spark, pp, "v", "val")
    Upsert.writeSnapshot(spark, pp,
      Seq((3L, "c")).toDF("id", "val"), Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, pp,
      (100L to 3000L).map(i => (i, s"x$i")).toDF("id", "val"),
      Seq("id"), Seq("id"))
    def logical(v: Int) = Upsert.readSnapshot(spark, pp, v)
      .select("id", "val").as[(Long, String)].collect().toSet
    val packBefore = logical(3)
    val big = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(pp), spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(pp, "batch-3"))
      .getLength
    val pv = Upsert.compactSnapshots(spark, pp, smallBytes = big - 1)
    assert(Upsert.manifestEntries(spark, pp, pv).map(_.dir).sorted ==
      Seq("batch-3", s"compact-$pv"), "pack the trickle dirs, carry the big one")
    val pc = spark.read.parquet(s"$pp/compact-$pv").columns.toSeq
    assert(pc.contains("v") && pc.contains("val"),
      s"the pack keeps the physical names it read: $pc")
    assert(logical(pv) == packBefore, "a pack preserves the logical rows")
    // Compaction physically migrates; the map then no-ops on its dir.
    val cv = Upsert.compactSnapshots(spark, path)
    val cc = spark.read.parquet(s"$path/compact-$cv").columns.toSeq
    assert(cc.contains("val") && !cc.contains("v"),
      s"compaction must write the logical schema: $cc")
    val after = Upsert.readSnapshot(spark, path, cv)
      .select("id", "val").as[(Long, String)].collect().toMap
    assert(after == m, "migration preserves content")
    // dropColumn: reads project it away everywhere; a lagging producer
    // re-sending it is stripped at write; keys refuse.
    Upsert.dropColumn(spark, path, "n")
    assert(!Upsert.readSnapshot(spark, path, cv).columns.contains("n"),
      "dropped column must vanish from reads")
    Upsert.writeSnapshot(spark, path,
      Seq((5L, "e", 99L)).toDF("id", "val", "n"), Seq("id"), Seq("id"))
    val b5 = Upsert.latestVersion(spark, path)
    assert(!spark.read.parquet(s"$path/batch-$b5").columns.contains("n"),
      "write normalization must strip the dropped column")
    intercept[IllegalArgumentException] {
      Upsert.dropColumn(spark, path, "id")
    }
    // A dropped name is RETIRED: re-using it (add or rename-onto)
    // would resurrect the old physical values — refused loudly.
    intercept[IllegalArgumentException] {
      Upsert.addColumn(spark, path, "n",
        org.apache.spark.sql.types.LongType)
    }
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(spark, path, "val", "n")
    }
    // Rename onto a LIVE column would coalesce-merge two unrelated
    // columns — refused; so is renaming onto a key.
    Upsert.addColumn(spark, path, "extra",
      org.apache.spark.sql.types.StringType)
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(spark, path, "extra", "val")
    }
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(spark, path, "extra", "id")
    }
  }

  test("change feed across a rename: both paths emit LOGICAL columns with healed values") {
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("snapevof").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), Seq("id"))
    Upsert.renameColumn(spark, path, "v", "val")
    // The merge deletes key 2 (pre-rename physical data) and inserts
    // key 3 under the live name.
    Upsert.mergeSnapshot(spark, path,
      Seq(("D", 2L, ""), ("I", 3L, "c")).toDF("op", "id", "val"),
      Seq("id"), Seq("id"), "op")
    def feed() = Upsert.snapshotChanges(spark, path, 1, 2, Seq("id"))
    val rec = feed()
    assert(!rec.columns.contains("v") && rec.columns.contains("val"),
      s"feed must emit logical columns: ${rec.columns.toSeq}")
    val recRows = rec.select("op", "id", "val")
      .as[(String, Long, String)].collect().toSet
    // D carries the OLD value healed into the LIVE column name.
    assert(recRows == Set(("D", 2L, "b"), ("I", 3L, "c")),
      s"recorded feed: $recRows")
    assert(Upsert.lastChangesMode.get() == "recorded:2")
    // Key-diff fallback agrees, column-for-column.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path + "/_snapshots",
      "v2.changes.meta"), false)
    val kd = feed()
    assert(!kd.columns.contains("v") && kd.columns.contains("val"))
    assert(kd.select("op", "id", "val").as[(String, Long, String)]
      .collect().toSet == recRows,
      "key-diff fallback must equal the recorded feed across a rename")
    // A typo'd span endpoint fails loudly on both paths (the composed
    // walk must not answer a shorter span).
    intercept[IllegalArgumentException] {
      Upsert.snapshotChanges(spark, path, 1, 999, Seq("id"))
    }
  }

  test("a malformed schema.map fails evolution loudly and is left as it was") {
    // Read as empty, the map would be rewritten by the next declaration
    // with only its own line, erasing every earlier evolution line.
    import graft.ops.Upsert
    val path = java.nio.file.Files.createTempDirectory("snapmap").toString
    Upsert.writeSnapshot(spark, path,
      Seq((1L, "a", 10L)).toDF("id", "v", "n"), Seq("id"), Seq("id"))
    Upsert.renameColumn(spark, path, "v", "val")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val map = new org.apache.hadoop.fs.Path(path + "/_snapshots", "schema.map")
    def text() = {
      val in = fs.open(map)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val malformed = text() + "\nrename"
    val out = fs.create(map, true)
    try out.write(malformed.getBytes("UTF-8")) finally out.close()
    val e = intercept[java.io.IOException] {
      Upsert.renameColumn(spark, path, "n", "count")
    }
    assert(e.getMessage.contains("schema.map"), e.getMessage)
    assert(text() == malformed, "a failed declaration must not rewrite the map")
  }
}
