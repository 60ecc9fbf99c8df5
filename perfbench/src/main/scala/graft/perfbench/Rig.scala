package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The session and the input rig every workload runs on. */
object Rig {

  /** Bench's session settings, at `local[nproc]` with `nproc` shuffle
    * partitions, with every scratch directory inside `work`. The traced
    * run also installs the counting file system. */
  def session(nproc: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFs], s"file system is ${fs.getClass}, not CountingFs")
    }
    spark
  }

  /** Bench's split-file layout of the testdata tables, in a directory of
    * the benchmark's own: each table rewritten once into up to `nproc`
    * files, so scans get real input splits with no exchange in the timed
    * plans. Reused across runs, but only after every table's row count
    * matches its source; a mismatch rebuilds that table, and a second
    * mismatch fails the run. */
  def prepare(spark: SparkSession, source: String, dir: String, nproc: Int): Unit = {
    graft.sources.Tables.configureReads(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    graft.sources.Tables.AllTables.foreach { t =>
      val want = footerRows(conf, s"$source/$t.parquet")
      if (footerRows(conf, s"$dir/$t.parquet") != want) {
        val files = math.max(1L, math.min(nproc.toLong, want / 100)).toInt
        spark.read.parquet(s"$source/$t.parquet").repartition(files)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        val got = footerRows(conf, s"$dir/$t.parquet")
        require(got == want, s"input rig: $t has $got rows, source has $want")
      }
    }
  }

  /** Rows of a parquet file, or of the parquet files of a directory, from
    * their footers; -1 when the path does not exist. */
  def footerRows(conf: org.apache.hadoop.conf.Configuration, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return -1L
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
