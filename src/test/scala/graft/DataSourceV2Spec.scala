package graft

import graft.ops.Upsert
import org.apache.spark.sql.functions._

/** The DSv2 relation (`spark.read.format("graft")`) must give plain
  * DataFrame/SQL users the SAME machinery the library entry points
  * expose: sidecar dir pruning for pushed filter bounds, metadata-cost
  * COUNT/MIN/MAX via complete aggregate pushdown, column pruning,
  * version/timestamp time travel — with exactness never resting on any
  * of it (filters stay residual; strict bounds re-evaluate). */
class DataSourceV2Spec extends SparkSpec {
  import spark.implicits._

  /** Two-dir sink separated on the declared skip column `score`
    * (keys interleave across the whole domain, so only the value box
    * can prune), plus an `extra` column carried by batch-2 only. */
  private def buildSink(): String = {
    val path = java.nio.file.Files.createTempDirectory("dsv2").toString
    Upsert.declareSkipCols(spark, path, Seq("score"))
    val rows = (1L to 200L).map(i => (i, i % 100, s"v$i"))
      .toDF("id", "score", "v")
    Upsert.writeSnapshot(spark, path, rows.filter(col("score") < 50),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, path, rows.filter(col("score") >= 50),
      Seq("id"), Seq("id"))
    path
  }

  test("plain read equals readSnapshot; versionAsOf time-travels") {
    val path = buildSink()
    val dsv2 = spark.read.format("graft").load(path)
    assert(dsv2.columns.toSeq == Seq("id", "score", "v"))
    assert(dsv2.as[(Long, Long, String)].collect().toSet ==
      Upsert.readSnapshot(spark, path, 2).as[(Long, Long, String)]
        .collect().toSet)
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(path)
    assert(v1.count() == 100 && v1.agg(max("score")).as[Long].head() == 49)
    // A read of a fresh/mistyped path fails AT LOAD with the real
    // message — not as an empty schema that errors on the next select.
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(path + "_nope")
    }
    assert(e.getMessage.contains("no published snapshot"))
  }

  test("pushed filter bounds prune dirs via the sidecars; strictness stays exact") {
    val path = buildSink()
    val rd = spark.read.format("graft").load(path)
      .filter(col("score") >= 60 && col("score") <= 70)
    val n = rd.count()
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"generic filter must prune to the high-score dir: " +
        s"${Upsert.lastProbedDirs.get()}")
    assert(n == rd.collect().length &&
      n == (1L to 200L).count(i => i % 100 >= 60 && i % 100 <= 70))
    // The scan's explain surface names the source and the pushed set.
    val plan = rd.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(score,60)"),
      s"pushed filters must surface in the plan:\n${plan.take(1200)}")
    // STRICT bound: the closed pruning box includes the boundary row;
    // the residual filter must still drop it.
    val strict = spark.read.format("graft").load(path)
      .filter(col("score") > 60 && col("score") < 62)
    assert(strict.select("score").distinct().as[Long].collect().toSeq ==
      Seq(61L), "strict bounds re-evaluate exactly")
    // One-sided bound still prunes (sentinel completes the box).
    val oneSided = spark.read.format("graft").load(path)
      .filter(col("score") >= 90)
    assert(oneSided.count() ==
      (1L to 200L).count(i => i % 100 >= 90))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"))
    // Un-boundable predicates stay exact through the residual.
    assert(spark.read.format("graft").load(path)
      .filter(col("v") === "v7").count() == 1)
  }

  test("unfiltered COUNT(*)/MIN/MAX push down completely: metadata answer, no data scan") {
    val path = buildSink()
    Upsert.lastCountScanned.set(Seq("sentinel"))
    Upsert.lastMinMaxScanned.set(Seq("sentinel"))
    val out = spark.read.format("graft").load(path)
      .agg(count(lit(1)), min("id"), max("id"), max("score"))
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((200L, 1L, 200L, 99L)), s"aggregate answer: $out")
    assert(Upsert.lastCountScanned.get().isEmpty,
      s"count must come from sidecars: ${Upsert.lastCountScanned.get()}")
    assert(Upsert.lastMinMaxScanned.get().isEmpty,
      s"min/max must come from sidecars: ${Upsert.lastMinMaxScanned.get()}")
    // Complete pushdown: no aggregate exec over data remains (Spark
    // projects the one-row scan; any HashAggregate would mean partial).
    val plan = spark.read.format("graft").load(path)
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      s"aggregate must be completely pushed:\n$plan")
    assert(plan.contains("PushedAggregates"),
      s"pushed aggregates must surface in the plan:\n${plan.take(1200)}")
  }

  test("filtered or grouped aggregates fall back to an exact scan") {
    val path = buildSink()
    val filtered = spark.read.format("graft").load(path)
      .filter(col("score") >= 50).agg(count(lit(1))).as[Long].head()
    assert(filtered == 100L)
    val grouped = spark.read.format("graft").load(path)
      .groupBy(col("score") < 50).count().as[(Boolean, Long)]
      .collect().toMap
    assert(grouped == Map(true -> 100L, false -> 100L))
  }

  test("limit pushdown: an unfiltered take stops the inner read early and stays exact") {
    val path = buildSink()
    val df = spark.read.format("graft").load(path).limit(5)
    assert(df.count() == 5)
    assert(df.collect().length == 5)
    // Filtered limits stay exact (the limit is NOT pushed under a
    // residual filter — Spark keeps it above, the source scans on).
    assert(spark.read.format("graft").load(path)
      .filter(col("score") >= 90).limit(3).collect().length == 3)
    assert(spark.read.format("graft").load(path)
      .filter(col("score") >= 99).limit(50).collect().length == 2,
      "a limit larger than the filtered set returns the whole set")
  }

  test("column pruning reaches the inner parquet scan; SQL view works") {
    val path = buildSink()
    val two = spark.read.format("graft").load(path).select("id", "v")
    assert(two.columns.toSeq == Seq("id", "v") && two.count() == 200)
    spark.read.format("graft").load(path).createOrReplaceTempView("snap")
    assert(spark.sql("SELECT count(*) AS n FROM snap").as[Long].head() == 200L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM snap WHERE score BETWEEN 60 AND 70")
      .as[Long].head() ==
      (1L to 200L).count(i => i % 100 >= 60 && i % 100 <= 70))
  }

  test("DSv2 writes: bootstrap + keep-existing append, CDC merge (COW and MoR), overwrite refused") {
    val path = java.nio.file.Files.createTempDirectory("dsv2w").toString
    // Bootstrap a FRESH sink straight through the writer.
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format("graft").option("keys", "id").mode("append").save(path)
    assert(Upsert.latestVersion(spark, path) == 1)
    // Keep-existing: the conflicting key keeps the sink's row.
    Seq((2L, "CHANGED"), (3L, "c")).toDF("id", "v")
      .write.format("graft").option("keys", "id").mode("append").save(path)
    assert(spark.read.format("graft").load(path).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // CDC merge through the writer (COW), then MoR.
    Seq(("U", 1L, "A2"), ("D", 3L, "")).toDF("op", "id", "v")
      .write.format("graft").option("keys", "id").option("mergeOp", "op")
      .mode("append").save(path)
    assert(spark.read.format("graft").load(path).as[(Long, String)]
      .collect().toMap == Map(1L -> "A2", 2L -> "b"))
    val before = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    Seq(("D", 2L, "")).toDF("op", "id", "v")
      .write.format("graft").option("keys", "id").option("mergeOp", "op")
      .option("mor", "true").mode("append").save(path)
    val added = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet -- before
    assert(added.exists(_.startsWith("dv-")) &&
      added.forall(d => d.startsWith("dv-") || d.startsWith("merge-")),
      s"mor write must go through deletion vectors: $added")
    assert(spark.read.format("graft").load(path).as[(Long, String)]
      .collect().toMap == Map(1L -> "A2"))
    // A keyed sink remembers its declaration: an option-less append
    // rides the recorded keys (the catalog INSERT path).
    Seq((9L, "x")).toDF("id", "v")
      .write.format("graft").mode("append").save(path)
    assert(spark.read.format("graft").load(path).as[(Long, String)]
      .collect().toMap == Map(1L -> "A2", 9L -> "x"))
    // Refusals: keys required on an UNDECLARED fresh sink; overwrite
    // unsupported anywhere.
    intercept[Exception] {
      Seq((9L, "x")).toDF("id", "v")
        .write.format("graft").mode("append").save(path + "_fresh")
    }
    assert(!new java.io.File(path + "_fresh", "_snapshots").exists(),
      "a refused bootstrap must publish nothing")
    intercept[Exception] {
      Seq((9L, "x")).toDF("id", "v")
        .write.format("graft").option("keys", "id")
        .mode("overwrite").save(path)
    }
    assert(spark.read.format("graft").load(path).count() == 2,
      "refused writes must change nothing")
  }

  test("Or and prefix predicates fold to boxes: pruning fires, residuals keep exactness") {
    val path = buildSink()
    // Or of two ranges on ONE column: the union box [60, 70] admits
    // only the high-score dir; the residual drops the gap (63..67).
    val orRead = spark.read.format("graft").load(path)
      .filter((col("score") >= 60 && col("score") <= 62) ||
        (col("score") >= 68 && col("score") <= 70))
    val got = orRead.select("score").distinct().as[Long].collect().toSeq.sorted
    assert(got == Seq(60L, 61L, 62L, 68L, 69L, 70L),
      s"Or residual must keep exactness (gap excluded): $got")
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"the union box must prune to the high dir: " +
        s"${Upsert.lastProbedDirs.get()}")
    // An Or across DIFFERENT columns contributes no box (kept exact
    // by the residual; everything is admitted).
    assert(spark.read.format("graft").load(path)
      .filter(col("score") === 60 || col("id") === 3L).count() ==
      (1L to 200L).count(i => i % 100 == 60 || i == 3L))
    // Prefix on a string skip column: dirs separated by the first
    // letter; startsWith("b") folds to ["b", "c"] and prunes dir-a.
    val p2 = java.nio.file.Files.createTempDirectory("pfx").toString
    Upsert.declareSkipCols(spark, p2, Seq("tag"))
    val rows = (1L to 100L).map(i =>
      (i, (if (i <= 50) "alpha" else "beta") + i)).toDF("id", "tag")
    Upsert.writeSnapshot(spark, p2, rows.filter(col("id") <= 50),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, p2, rows.filter(col("id") > 50),
      Seq("id"), Seq("id"))
    val pre = spark.read.format("graft").load(p2)
      .filter(col("tag").startsWith("beta"))
    assert(pre.count() == 50)
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"the prefix box must prune the alpha dir: " +
        s"${Upsert.lastProbedDirs.get()}")
    // Non-ASCII prefix: no box, still exact.
    assert(spark.read.format("graft").load(p2)
      .filter(col("tag").startsWith("β")).count() == 0)
  }

  test("runtime filtering: a broadcast join's build-side keys prune dirs at execution time") {
    // Four key-range dirs; the dim's filter is on a NON-key column, so
    // no static bound ever reaches the scan — only Spark's dynamic
    // pruning (SupportsRuntimeFiltering on the Batch path) can skip.
    val path = java.nio.file.Files.createTempDirectory("rtf").toString
    for (b <- 0 until 4)
      Upsert.writeSnapshot(spark, path,
        ((b * 100 + 1).toLong to (b * 100 + 100).toLong)
          .map(i => (i, s"v$i")).toDF("id", "v"),
        Seq("id"), Seq("id"))
    val dimPath = java.nio.file.Files.createTempDirectory("rtfdim").toString
    (1L to 400L).map(i => (i, (i - 1) / 100)).toDF("did", "band")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("band") === 2)
    val joined = spark.read.format("graft").load(path)
      .join(broadcast(dim), col("id") === col("did"))
      .select("id", "v", "band")
    val got = joined.as[(Long, String, Long)].collect().toSet
    assert(got == (201L to 300L).map(i => (i, s"v$i", 2L)).toSet,
      "runtime-pruned join must equal the plain join")
    assert(Upsert.lastProbedDirs.get() == Seq("batch-3"),
      s"build-side keys must prune to the one overlapping dir: " +
        s"${Upsert.lastProbedDirs.get()}")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"the scan must carry Spark's runtime filter:\n${plan.take(1000)}")
    assert(plan.contains("RuntimeFilterable: [id]"),
      "the scan must advertise the sink key as runtime-filterable")
    // The V1 fallback shapes keep working next to the Batch path: the
    // same sink's metadata aggregate and pushed limit are unaffected.
    assert(spark.read.format("graft").load(path)
      .agg(count(lit(1))).as[Long].head() == 400L)
    assert(spark.read.format("graft").load(path).limit(7)
      .collect().length == 7)
  }

  test("Batch row reader: every supported type roundtrips; missing columns null-fill") {
    val path = java.nio.file.Files.createTempDirectory("types").toString
    val rows = (1L to 40L).map { i =>
      (i, i.toInt, i.toFloat, i * 1.5, s"s$i", Array[Byte](i.toByte, 2),
        i % 2 == 0, java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1,
          (i % 28 + 1).toInt)),
        java.sql.Timestamp.from(java.time.Instant.parse(
          "2025-06-01T00:00:00Z").plusSeconds(i * 61)),
        Seq(i.toFloat, -i.toFloat), Seq(s"a$i", s"b$i"))
    }.toDF("id", "i32", "f32", "f64", "s", "bin", "flag", "d", "ts",
      "af", "as")
    Upsert.writeSnapshot(spark, path, rows, Seq("id"), Seq("id"))
    // A second dir carries an EXTRA column (additive physical
    // evolution): Batch reads of dir-1 rows must null-fill it.
    Upsert.writeSnapshot(spark, path,
      Seq((100L, "x")).toDF("id", "extra"), Seq("id"), Seq("id"))
    val viaBatch = spark.read.format("graft").load(path)
      .filter(col("id") >= 1L) // residual-only filter keeps the Batch route
    val plan = viaBatch.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSnapshotBatch"),
      s"an eligible scan must take the Batch path:\n${plan.take(600)}")
    val lib = Upsert.readSnapshot(spark, path, 2)
    val cols = lib.columns.toIndexedSeq.sorted
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq).toSet
    assert(norm(viaBatch) == norm(lib),
      "Batch rows must equal the library read, every type")
    // MoR flips the SAME load to the V1 fallback (dv anti-join needs
    // the DataFrame path) and stays exact.
    Upsert.mergeSnapshotMoR(spark, path,
      Seq(("D", 3L, "")).toDF("op", "id", "s"), Seq("id"), Seq("id"), "op")
    val afterMor = spark.read.format("graft").load(path)
      .filter(col("id") >= 1L)
    assert(!afterMor.queryExecution.executedPlan.toString
      .contains("GraftSnapshotBatch"),
      "a dv'd snapshot must fall back to the V1 bridge")
    assert(afterMor.count() == 40L)
  }

  test("Batch scan reads COLUMNAR: vectorized batches, null-fill, within 2x of V1") {
    val path = java.nio.file.Files.createTempDirectory("colr").toString
    val rows = (1L to 5000L).map { i =>
      (i, i.toInt, i * 1.5, s"s$i", i % 2 == 0,
        java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1,
          (i % 28 + 1).toInt)),
        java.sql.Timestamp.from(java.time.Instant.parse(
          "2025-06-01T00:00:00Z").plusSeconds(i)))
    }.toDF("id", "i32", "f64", "s", "flag", "d", "ts")
    Upsert.writeSnapshot(spark, path, rows, Seq("id"), Seq("id"))
    // Additive physical evolution: dir-1 rows must null-fill `extra`
    // through the vectorized reader's missing-column vectors too.
    Upsert.writeSnapshot(spark, path,
      Seq((9999L, "x")).toDF("id", "extra"), Seq("id"), Seq("id"))
    val viaBatch = spark.read.format("graft").load(path)
      .filter(col("id") >= 1L) // residual-only filter keeps the Batch route
    val plan = viaBatch.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSnapshotBatch"),
      s"an eligible scalar scan must take the Batch path:\n${plan.take(600)}")
    assert(plan.contains("ColumnarToRow"),
      s"a scalar Batch scan must read columnar:\n${plan.take(900)}")
    val lib = Upsert.readSnapshot(spark, path, 2)
    val cols = lib.columns.toIndexedSeq.sorted
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq).toSet
    assert(norm(viaBatch) == norm(lib),
      "columnar Batch rows must equal the library read")
    // Columnar must not cost vs the library's vectorized V1 read: warm
    // both, compare min-of-3 full materializations (generous 2x bound —
    // the point is catching a row-at-a-time regression, which measured
    // 3-10x slower on this shape).
    def time(f: => Unit): Double = {
      f // warm
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    }
    val tCol = time(viaBatch.write.format("noop").mode("overwrite").save())
    val tLib = time(Upsert.readSnapshot(spark, path, 2)
      .write.format("noop").mode("overwrite").save())
    assert(tCol <= math.max(2.0 * tLib, tLib + 0.5),
      f"columnar Batch read $tCol%.3f s should be within ~2x of the " +
        f"library read $tLib%.3f s")
  }

  test("Batch scan reads INT96, legacy lists, decimal and nested columns columnar") {
    // Pre-Spark-4 writers (and Hive-compat settings) produce INT96
    // timestamps and 2-level list layouts; decimal and nested columns,
    // NULL ones included, ride the same vectorized reader. Pin them
    // with a sink written under those settings.
    val path = java.nio.file.Files.createTempDirectory("int96").toString
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try {
      def nullEvery7(c: org.apache.spark.sql.Column) =
        when(col("id") % 7 =!= 0, c)
      Upsert.writeSnapshot(spark, path,
        (1L to 30L).map(i => (i,
          java.sql.Timestamp.from(java.time.Instant.parse(
            "2025-03-01T12:00:00Z").plusSeconds(i * 3607)),
          Seq(i.toFloat, i * 2.0f))).toDF("id", "ts", "af")
          .withColumn("dec", (col("id") * 1.25).cast("decimal(28,6)"))
          .withColumn("st", nullEvery7(struct(col("id").as("a"),
            concat(lit("s"), col("id")).as("b"))))
          .withColumn("m", nullEvery7(map(lit("k"),
            col("id").cast("double"))))
          .withColumn("as", nullEvery7(array(struct(col("id").as("x"),
            lit("y").as("y"))))),
        Seq("id"), Seq("id"))
    } finally {
      spark.conf.unset("spark.sql.parquet.outputTimestampType")
      spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
    }
    val viaBatch = spark.read.format("graft").load(path)
      .filter(col("id") >= 1L)
    val plan = viaBatch.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSnapshotBatch") &&
      plan.contains("ColumnarToRow"),
      s"must ride the Batch path, columnar:\n${plan.take(900)}")
    val lib = Upsert.readSnapshot(spark, path, 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(lib.columns.toIndexedSeq.map(col): _*)))
        .as[String].collect().toSet
    assert(rows(viaBatch) == rows(lib),
      "INT96, legacy lists, decimal and nested columns must roundtrip exactly")
  }

  test("a foreign TIMESTAMP(NANOS) file in a sink fails the read, naming the file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
    val path = java.nio.file.Files.createTempDirectory("nanos").toString
    Upsert.writeSnapshot(spark, path,
      (1L to 5L).map(i => (i, java.sql.Timestamp.from(
        java.time.Instant.parse("2025-01-01T00:00:00Z").plusSeconds(i))))
        .toDF("id", "ts"), Seq("id"), Seq("id"))
    // A parquet-mr file (no Spark schema key) in the data dir, named to
    // sort after Spark's part files: the dir's schema still comes from
    // a Spark footer, so the file reaches the scan's reader.
    val dir = Upsert.manifestEntries(spark, path, 1).head.dir
    val file = s"$path/$dir/zz-foreign.parquet"
    val schema = Types.buildMessage()
      .addField(Types.optional(PrimitiveType.PrimitiveTypeName.INT64)
        .named("id"))
      .addField(Types.optional(PrimitiveType.PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts"))
      .named("spark_schema")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try w.write(groups.newGroup().append("id", 9L).append("ts", -1500L))
    finally w.close()
    val e = intercept[Exception] {
      spark.read.format("graft").load(path).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(s"$dir/zz-foreign.parquet")),
      s"the error must name the foreign file: ${messages.mkString(" | ")}")
  }

  test("TableCatalog: SQL DDL/DML + time travel over named tables equal the path API") {
    val wh = java.nio.file.Files.createTempDirectory("graftwh").toString
    spark.conf.set("spark.sql.catalog.graft_cat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    new java.io.File(wh, "db").mkdirs()
    // CREATE declares the keys once; INSERTs are keyed publishes.
    spark.sql("CREATE TABLE graft_cat.db.trades (id BIGINT, v STRING) " +
      "OPTIONS ('keys' = 'id')")
    spark.sql("INSERT INTO graft_cat.db.trades VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_cat.db.trades VALUES (2, 'CHANGED'), (3, 'c')")
    assert(spark.sql("SELECT * FROM graft_cat.db.trades")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "keep-existing upsert semantics must hold through SQL INSERT")
    // Time travel syntax, both forms.
    assert(spark.sql("SELECT * FROM graft_cat.db.trades VERSION AS OF 1")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    val path = s"$wh/db/trades"
    val t1 = Upsert.publishedAtMs(spark, path, 1)
    val asOf = spark.sql(
      s"SELECT * FROM graft_cat.db.trades TIMESTAMP AS OF " +
        s"timestamp_micros(${t1 * 1000L})")
    assert(asOf.count() == 2)
    // The catalog returns the SAME table as the path API: the probe
    // audit and pushdown ride unchanged through named SQL.
    val docsPath = s"$wh/db/scored"
    Upsert.declareSkipCols(spark, docsPath, Seq("score"))
    val rows = (1L to 200L).map(i => (i, i % 100, s"v$i"))
      .toDF("id", "score", "v")
    Upsert.writeSnapshot(spark, docsPath, rows.filter(col("score") < 50),
      Seq("id"), Seq("id"))
    Upsert.writeSnapshot(spark, docsPath, rows.filter(col("score") >= 50),
      Seq("id"), Seq("id"))
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft_cat.db.scored " +
        "WHERE score BETWEEN 60 AND 70").as[Long].head()
    assert(n == (1L to 200L).count(i => i % 100 >= 60 && i % 100 <= 70))
    assert(Upsert.lastProbedDirs.get() == Seq("batch-2"),
      s"named-table SQL must keep the sidecar pruning: " +
        s"${Upsert.lastProbedDirs.get()}")
    // DataFrame writeTo face + catalog listing + refusals + DROP.
    Seq((9L, "z")).toDF("id", "v").writeTo("graft_cat.db.trades").append()
    assert(spark.table("graft_cat.db.trades").count() == 4)
    assert(spark.sql("SHOW TABLES IN graft_cat.db").collect()
      .map(_.getString(1)).toSet == Set("trades", "scored"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.db.trades RENAME COLUMN v TO w")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_cat.db.trades (id BIGINT) " +
        "OPTIONS ('keys' = 'id')")
    }
    spark.sql("DROP TABLE graft_cat.db.trades")
    assert(!new java.io.File(s"$wh/db/trades").exists(),
      "DROP deletes the sink — the table IS the directory")
    intercept[Exception] { spark.table("graft_cat.db.trades").collect() }
    // A created-but-never-written table SELECTs as empty (every SQL
    // engine's contract) — while a mistyped PATH read still fails loud.
    spark.sql("CREATE TABLE graft_cat.db.fresh (id BIGINT, v STRING) " +
      "OPTIONS ('keys' = 'id')")
    assert(spark.sql("SELECT * FROM graft_cat.db.fresh").collect().isEmpty)
    intercept[Exception] {
      spark.read.format("graft").load(s"$wh/db/nope").collect()
    }
    // A typo'd key name fails THE DDL, not the first INSERT.
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft_cat.db.typo (id BIGINT) " +
        "OPTIONS ('keys' = 'idd')")
    }
    assert(e2.getMessage.contains("idd"))
    // A same-arity NAMED frame with an unknown identifier column is
    // absorbed by name (additive evolution), never positionally
    // mis-assigned across columns.
    Seq((100L, "tagged")).toDF("id", "label")
      .writeTo("graft_cat.db.fresh").append()
    val fresh = spark.table("graft_cat.db.fresh")
    assert(fresh.select("id").as[Long].collect().toSeq == Seq(100L),
      "the id must land in id — not be positionally clobbered")
    assert(fresh.columns.contains("label") &&
      fresh.filter(col("label") === "tagged").count() == 1,
      "the unknown identifier column is absorbed, not renamed away")
  }

  test("pre-epoch fractional-second timestamp keys keep exact canon through stats and blooms") {
    // getTime of a pre-1970 fractional-second timestamp is a negative
    // non-multiple of 1000; a truncating division shifts its canon a
    // full second HIGH, inverting recorded ranges and bloom-mismatching
    // the write side's unix_micros — which silently prunes dirs that
    // DO hold the probed key (lost rows). floorDiv keeps both exact.
    val path = java.nio.file.Files.createTempDirectory("tspre").toString
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val preA = ts("1969-12-31T23:59:59.500Z") // -500_000 µs
    val preB = ts("1969-12-31T23:59:58.250Z") // -1_750_000 µs
    Upsert.writeSnapshot(spark, path,
      Seq((preA, "a"), (preB, "b")).toDF("ts", "v"), Seq("ts"), Seq("ts"))
    Upsert.writeSnapshot(spark, path,
      Seq((ts("2025-01-01T00:00:00Z"), "c"),
        (ts("2025-06-01T00:00:00Z"), "d")).toDF("ts", "v"),
      Seq("ts"), Seq("ts"))
    // Sidecar range canon is the exact epoch-micros pair.
    val (lo, hi) = Upsert.minMaxSnapshot(spark, path, 1, "ts")
    assert((lo, hi) == ((Some(-1750000L), Some(-500000L))),
      s"pre-epoch stat canon must floor to exact micros: $lo / $hi")
    // Runtime key-set admission: the bloom stage must keep the dir
    // holding the probed pre-epoch key and prune the other.
    val admitted = Upsert.admitDirsFor(spark, path, 2, Map.empty,
      Map("ts" -> Seq(preA)))
    assert(admitted == Seq("batch-1"),
      s"bloom admission must keep recall on pre-epoch keys: $admitted")
  }

  test("malformed version options fail with a message naming the option") {
    val path = buildSink()
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "banana").load(path)
    }
    assert(e1.getMessage.contains("versionAsOf") &&
      e1.getMessage.contains("banana"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("changeFeed", "true")
        .option("endingVersion", "x7").load(path)
    }
    assert(e2.getMessage.contains("endingVersion") &&
      e2.getMessage.contains("x7"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.read.format("graft").option("changeFeed", "true")
        .option("startingVersion", "first").load(path).collect()
    }
    assert(e3.getMessage.contains("startingVersion"), e3.getMessage)
  }

  test("catalog identifiers that would escape the warehouse are refused") {
    val wh = java.nio.file.Files.createTempDirectory("graftwhv").toString
    val cat = new graft.sources.GraftCatalog
    val opts = new java.util.HashMap[String, String]()
    opts.put("warehouse", wh)
    cat.initialize("graft_val",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    import org.apache.spark.sql.connector.catalog.Identifier
    for (bad <- Seq(Identifier.of(Array(".."), "x"),
        Identifier.of(Array("db"), ".."),
        Identifier.of(Array("db"), "a/b"),
        Identifier.of(Array.empty[String], ""))) {
      val e = intercept[IllegalArgumentException] { cat.loadTable(bad) }
      assert(e.getMessage.contains("illegal identifier"), e.getMessage)
      intercept[IllegalArgumentException] { cat.dropTable(bad) }
    }
  }

  test("timestampAsOf resolves like readSnapshotAsOf; schema evolution surfaces") {
    val path = buildSink()
    val t1 = Upsert.publishedAtMs(spark, path, 1)
    val asOf = spark.read.format("graft")
      .option("timestampAsOf", t1).load(path)
    assert(asOf.count() == 100)
    // Evolution: rename surfaces through the DSv2 schema too.
    Upsert.renameColumn(spark, path, "v", "val")
    val evolved = spark.read.format("graft").load(path)
    assert(evolved.columns.toSeq == Seq("id", "score", "val"))
    assert(evolved.filter(col("val") === "v7").count() == 1)
  }
}
