package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM. `run.py` builds the engine and this
  * package, then starts it as
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --expected FILE --out FILE
  *
  * It writes its metrics as one JSON object to `--out` and the spans of a
  * traced run next to it. `--record DIR` instead runs every query of
  * query_mix once and writes their hashes and outputs to DIR. */
object Main {
  val Workloads = Seq("snapshot_cdc", "query_mix")

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    val traced = a.get("trace").contains("1")
    val spark = Rig.session(nproc, work, traced)
    System.err.println(f"[perfbench] session ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val rigDir = s"$work/rig_p$nproc"
    try a.get("record") match {
      case Some(dir) =>
        Rig.prepare(spark, a("data"), rigDir, nproc)
        val rec = new Recorder(spark, traced = false)
        val hashes = new QueryWorkload(spark, rec, rigDir, 0L, Map.empty).record(s"$dir/out")
        Files.writeString(Paths.get(s"$dir/hashes.json"),
          hashes.map { case (q, h) => s"  ${Json.str(q)}: ${Json.str(h)}" }
            .mkString("{\n", ",\n", "\n}\n"))
        Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
          hashes.map { case (q, _) => s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}" }
            .mkString("{", ",", "}"))
      case None =>
        run(a, spark, rigDir, nproc, traced, t0)
    } finally spark.stop()
  }

  private def run(a: Map[String, String], spark: org.apache.spark.sql.SparkSession,
      rigDir: String, nproc: Int, traced: Boolean, t0: Long): Unit = {
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val rec = new Recorder(spark, traced)
    Rig.prepare(spark, a("data"), rigDir, nproc)
    System.err.println(f"[perfbench] rig ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val wl: Workload = workload match {
      case "snapshot_cdc" =>
        new SnapshotCdc(spark, rec, rigDir, a("work"), seed, traced)
      case _ =>
        new QueryWorkload(spark, rec, rigDir, seed, Json.flatStrings(
          new String(Files.readAllBytes(Paths.get(a("expected"))), UTF_8)))
    }
    val s0 = System.nanoTime()
    wl.setup()
    val w0 = System.nanoTime()
    wl.warm()
    val start = System.nanoTime()
    val setupS = (start - t0) / 1e9
    System.err.println(f"[perfbench] set-up ${setupS}%.2f s: session and rig ${(s0 - t0) / 1e9}%.2f s, " +
      f"fixtures ${(w0 - s0) / 1e9}%.2f s, warm ${(start - w0) / 1e9}%.2f s")
    val steal0 = Metrics.cpuSteal()
    wl.timed(start + seconds * 1000000000L)
    val timedMin = (System.nanoTime() - start) / 6e10
    val steal1 = Metrics.cpuSteal()
    val stealPct = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    val liveHeapMb = Metrics.liveHeapMb(spark)
    val c0 = System.nanoTime()
    val mismatches = wl.check()
    System.err.println(f"[perfbench] timed ${(c0 - start) / 1e9}%.2f s, check ${(System.nanoTime() - c0) / 1e9}%.2f s")
    mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    val ops = rec.ops.toVector
    val failed = ops.count(!_.ok)
    val correct = mismatches.isEmpty && failed == 0

    val e2e = Metrics.endToEnd(ops, setupS, timedMin, liveHeapMb) ++ wl.extraMetrics() :+
      (("steal_pct", stealPct, "%"))
    e2e.foreach { case (n, v, u) => println(f"[perfbench] $workload%-13s $n%-18s $v%14.4f $u") }
    val reported =
      if (!traced) e2e.filter(m => Metrics.EndToEnd.contains(m._1))
      else {
        val layers = Metrics.perLayer(ops, nproc, wl.layerMetrics())
        writeTrace(a("out") + ".trace.json", workload, seed, rec, e2e, layers)
        layers
      }
    val metrics = reported.map { case (n, v, u) =>
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(a("out")),
      s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, "metrics": $metrics}""")
  }

  /** The traced run's record: its spans with self times, the per-layer
    * metrics, and its own end-to-end metrics, for the tracing overhead. */
  private def writeTrace(path: String, workload: String, seed: Long, rec: Recorder,
      e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)]): Unit = {
    val spans = rec.allSpans(workload)
    val self = rec.selfTimes(spans)
    def kv(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, _) =>
      s"${Json.str(n)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val bySelf = spans.groupBy(s => s.name.replaceAll("^job \\d+$", "job"))
      .map { case (n, ss) => s"${Json.str(n)}: ${Json.num(ss.map(s => self(s.id)).sum)}" }
    val opLines = rec.ops.map { o =>
      val t = o.trace.map(t => s""", "jobs": ${t.jobs.size}, "job_ms": ${Json.num(t.jobMs)}, """ +
        s""""sum_job_ms": ${t.jobs.map(j => j.end - j.start).sum}, """ +
        s""""gap_ms": ${Json.num(t.gapMs)}, "meta_ops": ${t.fsCount("meta_ops")}""")
      s"""{"id": ${o.id}, "name": ${Json.str(o.name)}, "ok": ${o.ok}, """ +
        s""""wall_ms": ${Json.num(o.wallMs)}${t.getOrElse("")}}"""
    }
    val spanLines = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, "self_ms": ${Json.num(self(s.id))}}""")
    Files.writeString(Paths.get(path),
      s"""{"workload": ${Json.str(workload)}, "seed": $seed,
         |"end_to_end_traced": ${kv(e2e)},
         |"per_layer": ${kv(layers)},
         |"self_ms_by_span_name": ${bySelf.mkString("{", ", ", "}")},
         |"ops": [
         |${opLines.mkString(",\n")}
         |],
         |"spans": [
         |${spanLines.mkString(",\n")}
         |]}
         |""".stripMargin)
  }
}

/** Just enough JSON for flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** A flat object of string values, as the expected-hash file holds. */
  def flatStrings(txt: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
}
