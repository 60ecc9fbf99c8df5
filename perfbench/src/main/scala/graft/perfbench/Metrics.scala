package graft.perfbench

/** End-to-end metrics from the timed operations of an untraced run, and
  * per-layer metrics from those of a traced run. Counts and bytes are
  * means per operation, times are medians per operation. Every per-layer
  * metric is reported by every workload; a layer a workload never enters
  * reads 0 there. */
object Metrics {
  type M = (String, Double, String)

  /** The end-to-end metrics of the result line, in every workload. The
    * query latency there is the mean: a run has 12-17 queries of kinds
    * whose latencies differ several-fold, so their median jumps between
    * kinds from run to run, while the mean moves only with the work. The
    * median and the tail are report lines. The memory figure is the heap
    * the program holds live, not the JVM's resident size, which a fixed
    * heap pins near its maximum. */
  val EndToEnd = Seq("setup_s", "ops_per_min", "query_mean_ms", "live_heap_mb")

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def endToEnd(ops: Seq[OpRec], setupS: Double, timedMin: Double, liveHeapMb: Double): Seq[M] = {
    val done = ops.filter(_.ok)
    val q = done.filter(_.kind == "query").map(_.wallMs)
    val (tailP, tailV) = if (q.isEmpty) (0, 0.0) else Stats.tail(q)
    val commits = done.filter(_.kind == "commit").map(_.wallMs)
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_min", done.size / timedMin, "ops/min"),
      ("query_mean_ms", Stats.mean(q), "ms"),
      ("query_p50_ms", med(q), "ms"),
      ("query_tail_ms", tailV, "ms"),
      ("query_tail_pct", tailP.toDouble, "percentile"),
      ("query_samples", q.size.toDouble, "count"),
      ("op_error_rate", (ops.size - done.size).toDouble / math.max(1, ops.size), "fraction"),
      ("op_errors", (ops.size - done.size).toDouble, "count"),
      ("live_heap_mb", liveHeapMb, "MB"),
      ("peak_rss_mb", peakRssMb(), "MB")) ++
      (if (commits.isEmpty) Nil else Seq(("commit_p50_ms", med(commits), "ms")))
  }

  /** Heap in use after a full collection: what the program holds live
    * (caches, pinned blocks, table and plan metadata) at this point. */
  def liveHeapMb(spark: org.apache.spark.sql.SparkSession): Double = {
    // Spark holds the plan of the last query it ran, and with it that
    // query's broadcast relations, until the next query runs: a one-row
    // query first makes the figure the same whichever query ran last.
    spark.range(1).count()
    // The first collection queues the broadcasts, shuffles and cached
    // blocks nothing references any more; Spark's cleaner then drops
    // them, and the second collection frees what they held.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (steal, total) CPU time of the machine so far, from /proc/stat: the
    * time the hypervisor ran something else while a virtual CPU had work. */
  def cpuSteal(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  /** `VmHWM` of this JVM. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  val TableOps = Seq("merge_cow", "merge_mor", "erase", "compact", "retain",
    "read_latest", "read_range", "read_keys", "read_asof", "read_changes", "read_stream")
  val FsNames = Seq("exists", "status", "list", "open_meta", "open_data", "create",
    "rename", "delete", "mkdirs", "bytes_written")
  val ExtFamilies = Seq("dedup", "clusters", "sketch", "ann", "text", "token")
  val MixFamilies = Seq("tpch", "pipeline", "timeseries", "join")
  /** Per-layer metrics that only the workload itself can measure. */
  val WorkloadLayer = Seq("table.write_amp" -> "ratio", "table.live_files" -> "count",
    "table.live_dirs" -> "count", "table.versions" -> "count",
    "table.prune_frac" -> "fraction", "feed.recompute_frac" -> "fraction")

  def perLayer(ops: Seq[OpRec], nproc: Int, own: Seq[M]): Seq[M] = {
    val done = ops.filter(o => o.ok && o.trace.nonEmpty)
    val tr = done.map(_.trace.get)
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    def named(n: String) = done.filter(_.name == n)
    def fam(f: String) = done.filter(_.family == f)
    val table = TableOps.flatMap { op =>
      val os = named(op)
      Seq((s"table.$op.wall_ms", med(os.map(_.wallMs)), "ms"),
        (s"table.$op.jobs", mean(os.map(_.trace.get.jobs.size.toDouble)), "count"),
        (s"table.$op.gap_ms", med(os.map(_.trace.get.gapMs)), "ms"),
        (s"table.$op.meta_ops", mean(os.map(_.trace.get.fsCount("meta_ops").toDouble)), "count"))
    }
    val ownMap = own.map(m => m._1 -> m).toMap
    val workloadLayer = WorkloadLayer.map { case (n, u) => ownMap.getOrElse(n, (n, 0.0, u)) }
    val fs = FsNames.map(n => (s"fs.$n", mean(tr.map(_.fsCount(n).toDouble)),
      if (n == "bytes_written") "bytes" else "count"))
    val polls = done.filter(_.kind == "poll")
    val streamOps = named("read_stream")
    val batches = streamOps.flatMap(_.trace.get.streams)
    val feed = Seq(
      ("feed.poll_ms", med(polls.map(_.wallMs)), "ms"),
      ("feed.poll_jobs", mean(polls.map(_.trace.get.jobs.size.toDouble)), "count"),
      ("feed.rows", mean(polls.map(_.trace.get.tasks.inRows.toDouble)), "rows"),
      ("stream.batches", mean(streamOps.map(_.trace.get.streams.size.toDouble)), "count"),
      ("stream.batch_ms", med(batches.map(_.batchMs.toDouble)), "ms"),
      ("stream.plan_ms", med(batches.map(_.planMs.toDouble)), "ms"),
      ("stream.wal_ms", med(batches.map(_.walMs.toDouble)), "ms"))
    val built = done.filter(_.buildMs > 0)
    val plan = Seq(
      ("scan.bytes", mean(tr.map(_.tasks.inBytes.toDouble)), "bytes"),
      ("scan.rows", mean(tr.map(_.tasks.inRows.toDouble)), "rows"),
      ("plan.analysis_ms", med(tr.map(_.plans.map(_.analysisMs).sum)), "ms"),
      ("plan.optimization_ms", med(tr.map(_.plans.map(_.optimizationMs).sum)), "ms"),
      ("plan.planning_ms", med(tr.map(_.plans.map(_.planningMs).sum)), "ms"),
      ("plan.executions", mean(tr.map(_.plans.size.toDouble)), "count"),
      ("query.build_ms", med(built.map(_.buildMs)), "ms"))
    val taskMs = tr.map(_.tasks.runMs.toDouble).sum
    val wallMs = done.map(_.wallMs).sum
    val exec = Seq(
      ("exec.jobs", mean(tr.map(_.jobs.size.toDouble)), "count"),
      ("exec.stages", mean(tr.map(_.jobs.map(_.stages).sum.toDouble)), "count"),
      ("exec.tasks", mean(tr.map(_.tasks.tasks.toDouble)), "count"),
      ("exec.job_ms", med(tr.map(_.jobMs)), "ms"),
      ("exec.gap_ms", med(tr.map(_.gapMs)), "ms"),
      ("exec.task_ms", med(tr.map(_.tasks.runMs.toDouble)), "ms"),
      ("exec.task_cpu_ms", med(tr.map(_.tasks.cpuNs / 1e6)), "ms"),
      ("exec.gc_ms", med(tr.map(_.tasks.gcMs.toDouble)), "ms"),
      ("exec.core_util", if (wallMs > 0) taskMs / (wallMs * nproc) else 0.0, "fraction"),
      ("exec.failed_tasks", tr.map(_.tasks.failed.toDouble).sum, "count"),
      ("shuffle.write_bytes", mean(tr.map(_.tasks.shWrite.toDouble)), "bytes"),
      ("shuffle.read_bytes", mean(tr.map(_.tasks.shRead.toDouble)), "bytes"),
      ("shuffle.fetch_wait_ms", mean(tr.map(_.tasks.fetchWaitMs.toDouble)), "ms"),
      ("shuffle.spill_bytes", mean(tr.map(_.tasks.spill.toDouble)), "bytes"),
      ("pin.bytes", mean(tr.map(_.pinBytes.toDouble)), "bytes"))
    val ext = ExtFamilies.flatMap { f =>
      val os = fam(f)
      Seq((s"ext.$f.ms", med(os.map(_.wallMs)), "ms"),
        (s"ext.$f.jobs", mean(os.map(_.trace.get.jobs.size.toDouble)), "count"),
        (s"ext.$f.task_cpu_ms", med(os.map(_.trace.get.tasks.cpuNs / 1e6)), "ms"))
    }
    val mix = MixFamilies.flatMap { f =>
      val os = fam(f)
      Seq((s"mix.$f.ms", med(os.map(_.wallMs)), "ms"),
        (s"mix.$f.plan_ms", med(os.map(_.trace.get.planMs)), "ms"),
        (s"mix.$f.shuffle_bytes", mean(os.map(_.trace.get.tasks.shWrite.toDouble)), "bytes"))
    }
    table ++ workloadLayer ++ fs ++ feed ++ plan ++ exec ++ ext ++ mix
  }
}
