package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code submits, as a listener sees them. */
object JobProbe {

  /** One submitted job: its description (the `graft.*` label of the
    * phase that submitted it, "" when unlabelled), whether it ran inside
    * a SQL execution, and its stage names. */
  final case class Job(desc: String, inSql: Boolean, stages: Seq[String])

  /** Every job `body` submits on `spark`, in submission order. */
  def jobsOf(spark: SparkSession)(body: => Any): Seq[Job] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        seen.add(Job(prop("spark.job.description").getOrElse(""),
          prop("spark.sql.execution.id").isDefined, e.stageInfos.map(_.name)))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBridge.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.toArray(Array.empty[Job]).toSeq
  }
}
