package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One span: a workload, an operation, a call into one layer, or a Spark
  * job. Times are epoch milliseconds. Spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double)

/** The per-layer facts of one operation, gathered in the traced run. */
final case class OpTrace(jobs: Seq[JobRec], plans: Seq[PlanRec],
    streams: Seq[StreamRec], pinBytes: Long, fs: IndexedSeq[Long],
    openedData: Int, jobMs: Double, gapMs: Double) {
  lazy val tasks: TaskAgg = { val t = new TaskAgg; jobs.foreach(j => t.add(j.agg)); t }
  def fsCount(name: String): Long = fs(CountingFs.Names.indexOf(name))
  def planMs: Double = plans.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum
}

/** One timed operation: a query, a table call or a feed poll. `kind` is
  * `query` (a call plus the hash action), `commit` or `poll`. */
final case class OpRec(id: Int, kind: String, name: String, family: String,
    start: Double, end: Double, ok: Boolean, buildMs: Double,
    trace: Option[OpTrace]) {
  def wallMs: Double = end - start
}

/** Times operations and, in the traced run, attributes jobs, tasks, plans,
  * micro-batches and file-system calls to them and records spans. */
final class Recorder(spark: SparkSession, traced: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  private def us(ms: Double): Long = math.round(ms * 1000)

  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId }
  private val workloadSpan = newId()
  private val workloadStart = now()
  private var current: Option[(Int, ArrayBuffer[Span])] = None
  private var recording = true

  /** Runs `body` without recording it: set-up and warm-up work. */
  def untimed[T](body: => T): T = {
    val prev = recording
    recording = false
    try body finally recording = prev
  }

  /** Times one operation. A throw counts it as failed and the run goes on. */
  def op(kind: String, name: String, family: String = "")(body: => Unit): OpRec = {
    val id = newId()
    if (!recording) {
      val ok = try { body; true } catch {
        case NonFatal(e) => System.err.println(s"[perfbench] warm-up $name failed: $e"); false
      }
      return OpRec(id, kind, name, family, 0, 0, ok, 0, None)
    }
    tracer.foreach(_.take()) // drop what ran between operations
    val fs0 = if (traced) CountingFs.snapshot() else IndexedSeq.empty
    CountingFs.resetOpened()
    val layers = ArrayBuffer.empty[Span]
    current = Some((id, layers))
    val sc = spark.sparkContext
    tracer.foreach(t => sc.setLocalProperty(t.OpProperty, id.toString))
    val t0 = now()
    val ok = try { body; true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val t1 = now()
    tracer.foreach(t => sc.setLocalProperty(t.OpProperty, null))
    current = None
    val trace = tracer.map { t =>
      val ep = t.take()
      // Jobs carry the operation's id when submitted from this thread;
      // jobs from the engine's pool threads carry none and attach by time.
      val mine = ep.jobs.filter(j => j.op.contains(id) ||
        (j.op.isEmpty && j.start >= t0 - 1 && j.start <= t1))
      val (lo, hi) = (us(t0), us(t1))
      val iv = mine.map(j => (j.start * 1000, j.end * 1000))
      val jobMs = Stats.unionLength(Stats.clip(iv, lo, hi)) / 1000.0
      val fs1 = CountingFs.snapshot()
      layers.foreach(l => spans += l)
      mine.foreach { j =>
        val parent = layers.find(l => j.start >= l.start - 1 && j.start <= l.end)
          .map(_.id).getOrElse(id)
        spans += Span(newId(), parent, id, s"job ${j.id}", j.start.toDouble, j.end.toDouble)
      }
      OpTrace(mine, ep.plans, ep.streams, ep.pinBytes,
        fs1.indices.map(i => fs1(i) - fs0(i)), CountingFs.openedData.size,
        jobMs, Stats.gap(lo, hi, iv) / 1000.0)
    }
    if (traced) spans += Span(id, workloadSpan, id, s"$kind $name", t0, t1)
    val build = layers.find(_.name == "catalog").map(l => l.end - l.start).getOrElse(0.0)
    val rec = OpRec(id, kind, name, family, t0, t1, ok, build, trace)
    ops += rec
    rec
  }

  /** A call into one layer inside the current operation. */
  def span[T](name: String)(body: => T): T = current match {
    case Some((op, layers)) if traced =>
      val t0 = now()
      try body finally layers += Span(newId(), op, op, name, t0, now())
    case _ => body
  }

  /** The workload span, closed now, followed by every recorded span. */
  def allSpans(workload: String): Seq[Span] =
    Span(workloadSpan, 0, 0, workload, workloadStart, now()) +: spans.toVector

  /** A span's duration minus the union of its children's intervals. */
  def selfTimes(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (us(c.start), us(c.end)))
      s.id -> Stats.gap(us(s.start), us(s.end), iv) / 1000.0
    }.toMap
  }
}
