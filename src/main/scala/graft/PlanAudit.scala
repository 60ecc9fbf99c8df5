package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print physical plans for queries (all, or names passed as
  * args) — used to audit pushdown/pruning/broadcast/shuffles.
  *
  * By default prints the STATIC formatted plan. With `--executed` it runs
  * each query and prints what AQE actually executed plus scan/reuse/
  * exchange counts — runtime exchange reuse (`ReusedQueryStage`) is only
  * visible there, never in static explain.
  *
  * Env: SPARK_GRAFT_SF_DIR picks the scale factor.
  */
object PlanAudit {

  /** Count plan nodes by WALKING the executed tree — the one shared
    * definition (PlanShapeSpec asserts with it too). String greps lie:
    * each InMemoryTableScan PRINTS its cache-fill recipe (including a
    * FileScan) into the plan string, and "Exchange" is a substring of
    * Broadcast/ReusedExchange. The walk follows AQE links
    * (AdaptiveSparkPlanExec.executedPlan, QueryStageExec.plan) and
    * SUBQUERY plans (DPP / scalar subqueries execute real scans and
    * exchanges that are not `children`). */
  def countNodes(plan: org.apache.spark.sql.execution.SparkPlan): Map[String, Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    def walk(p: SparkPlan): Map[String, Int] = {
      val self = p match {
        case _: FileSourceScanExec => Map("scans" -> 1)
        case _: InMemoryTableScanExec => Map("cacheReads" -> 1)
        // The two cache-free materialization reads (r7 hygiene change):
        // a LocalRelation embeds a driver-collected bounded table; an
        // RDDScan reads an eager localCheckpoint's blocks.
        case _: LocalTableScanExec => Map("localReads" -> 1)
        case _: RDDScanExec => Map("rddReads" -> 1)
        case _: ShuffleExchangeExec => Map("shuffles" -> 1)
        case _: BroadcastExchangeExec => Map("broadcasts" -> 1)
        case _: ReusedExchangeExec => Map("reuse" -> 1)
        case _: HashAggregateExec => Map("hashaggs" -> 1)
        case _ => Map.empty[String, Int]
      }
      val kids = p.children ++
        p.subqueries ++
        (p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec => Seq(s.plan)
          case _ => Nil
        })
      kids.map(walk).foldLeft(self) { (acc, m) =>
        (acc.keySet ++ m.keySet).map(k =>
          k -> (acc.getOrElse(k, 0) + m.getOrElse(k, 0))).toMap
      }
    }
    walk(plan)
  }

  def main(args: Array[String]): Unit = {
    val executed = args.contains("--executed")
    val names0 = args.filterNot(_ == "--executed").toSeq
    val spark = SessionRecipe.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (names0.nonEmpty) names0 else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { q =>
      println(s"########## $q")
      val df = SparkEntry.queries(q)(spark, dir)
      if (executed) {
        df.collect()
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
        val c = countNodes(df.queryExecution.executedPlan).withDefaultValue(0)
        println(s"[planaudit] scans=${c("scans")} cacheReads=${c("cacheReads")} " +
          s"localReads=${c("localReads")} rddReads=${c("rddReads")} " +
          s"shuffles=${c("shuffles")} broadcasts=${c("broadcasts")} " +
          s"reuse=${c("reuse")} hashaggs=${c("hashaggs")}")
      } else println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
