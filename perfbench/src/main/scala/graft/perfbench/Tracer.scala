package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over the tasks of one job. */
final class TaskAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRows = 0L; var shWrite = 0L; var shRead = 0L
  var fetchWaitMs = 0L; var spill = 0L; var failed = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRows += o.inRows; shWrite += o.shWrite
    shRead += o.shRead; fetchWaitMs += o.fetchWaitMs; spill += o.spill
    failed += o.failed
  }
}

final case class JobRec(id: Int, op: Option[Int], start: Long, end: Long,
    stages: Int, agg: TaskAgg)
final case class PlanRec(analysisMs: Double, optimizationMs: Double,
    planningMs: Double)
final case class StreamRec(batchMs: Long, planMs: Long, walMs: Long)

/** What the listeners saw between two [[Tracer.take]] calls. */
final case class Epoch(jobs: Seq[JobRec], plans: Seq[PlanRec],
    streams: Seq[StreamRec], pinBytes: Long)

/** The traced run's hooks, all registered from outside the engine: a
  * `SparkListener` for jobs, tasks and cached blocks, a
  * `QueryExecutionListener` for Catalyst phase times, and a
  * `StreamingQueryListener` for micro-batches. Operations run one at a
  * time, so everything delivered between two drains of the listener bus
  * belongs to the operation that ran in between. */
final class Tracer(spark: SparkSession) {
  val OpProperty = "perfbench.op"
  private val lock = new Object
  private val open = scala.collection.mutable.Map.empty[Int, (Option[Int], Long, Int, TaskAgg)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val plans = ArrayBuffer.empty[PlanRec]
  private val streams = ArrayBuffer.empty[StreamRec]
  private var pinBytes = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt)
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
      open(e.jobId) = (op, e.time, e.stageInfos.size, new TaskAgg)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      open.remove(e.jobId).foreach { case (op, start, stages, agg) =>
        jobs += JobRec(e.jobId, op, start, e.time, stages, agg)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (jobId <- stageJob.get(e.stageId); (_, _, _, a) <- open.get(jobId)) {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        lock.synchronized(pinBytes += b.memSize + b.diskSize)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
        .getOrElse(0.0)
      lock.synchronized(plans += PlanRec(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      lock.synchronized(streams += StreamRec(d("triggerExecution"),
        d("queryPlanning"), d("walCommit") + d("commitOffsets")))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Everything delivered since the last call, after waiting for the
    * listener bus to deliver all events posted so far. */
  def take(): Epoch = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      val e = Epoch(jobs.toVector, plans.toVector, streams.toVector, pinBytes)
      jobs.clear(); plans.clear(); streams.clear(); pinBytes = 0L
      e
    }
  }
}
