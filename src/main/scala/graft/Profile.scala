package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** Job-level profiling aid for the optimization rounds (guide §1):
  * runs named queries with the BENCH session/action and prints, per
  * query, wall time vs per-Spark-job time (id, duration, stages,
  * tasks, call site) — the gap is driver/FS/planning work no job
  * accounts for (wall minus the union of job intervals: concurrent
  * jobs overlap, so their summed durations can exceed the wall). Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Profile q_snap_merge …"
  * Each query runs twice (codegen/JIT warm), the second run is the one
  * to read. Not part of any declared surface. */
object Profile {
  private case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L, stages: Int = 0, tasks: Int = 0)

  /** Time covered by at least one of the `(start, end)` intervals —
    * the busy time of jobs that may run concurrently. Intervals that
    * never ended (`end <= start`) cover nothing. */
  private[graft] def unionMs(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((busy, reach), (s, e)) =>
        if (e <= reach) (busy, reach)
        else (busy + e - math.max(s, reach), e)
      }._1

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionRecipe.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.configureReads(spark)
    // Same split-file rig as Bench, reused if already built.
    val splitDir = s"/tmp/graft_bench_split_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(splitDir), spark.sparkContext.hadoopConfiguration)
    graft.sources.Tables.AllTables.foreach { t =>
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$splitDir/$t.parquet"))) {
        val raw = spark.read.parquet(s"$sfDir/$t.parquet")
        val files = math.max(1L, math.min(cpus.toLong, raw.count() / 100)).toInt
        raw.repartition(files).write.mode("overwrite")
          .parquet(s"$splitDir/$t.parquet")
      }
    }
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]()
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lock.synchronized {
          // SparkListenerJobStart.properties is documented nullable; an
          // NPE here is swallowed by the listener bus and silently drops
          // the job record — inflating the driver "gap" this tool exists
          // to measure.
          // Fallback chain: the result stage's NAME carries the call
          // site ("parquet at Upsert.scala:603") even when the job
          // properties carry no callSite.short.
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.nonEmpty)
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .filter(_.nonEmpty))
            .orElse(e.stageInfos.lastOption.map(_.name))
            .getOrElse("")
          jobs += JobRec(e.jobId, desc,
            e.time, stages = e.stageInfos.size,
            tasks = e.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
    })
    def once(name: String, report: Boolean): Unit = {
      lock.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, splitDir)
      df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("__h"))
        .agg(sum(col("__h"))).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (report) {
        val js = lock.synchronized(jobs.toVector)
        val jt = unionMs(js.map(j => (j.start, j.end))) / 1e3
        println(f"== $name wall=$wall%.3f s jobs=${js.size} " +
          f"busy=$jt%.3f s gap=${wall - jt}%.3f s")
        js.foreach { j =>
          println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s " +
            f"stages=${j.stages} tasks=${j.tasks}%4d ${j.desc.take(60)}")
        }
      }
    }
    args.foreach { q => once(q, report = false); once(q, report = true) }
    spark.stop()
  }
}
