package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main (Profile, PlanAudit, Verify, Smoke)
  * and the test suites build: `local[cpus]` with one shuffle partition
  * per core, and the settings the reference's semantics need. Callers
  * add their own log level and warehouse. Bench keeps its own literal
  * copy of these settings; `SessionRecipeSpec` checks the two agree. */
object SessionRecipe {

  def settings(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    // Reference semantics are permissive (pandas): failed parses → null,
    // not errors. Spark 4 defaults ANSI on; turn it off for parity.
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // TIMESTAMP(NANOS) parquet, which Spark rejects, reads as epoch-nanos
    // long; graft.sources.Tables converts back.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def builder(cpus: String): SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
