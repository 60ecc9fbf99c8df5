package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** What every workload provides to [[Main]]. */
trait Workload {
  /** Builds the fixtures the timed operations work on. */
  def setup(): Unit
  /** Untimed work that fills caches before the first timed operation. */
  def warm(): Unit
  /** Timed operations until `deadlineNs` (whole passes or rounds). */
  def timed(deadlineNs: Long): Unit
  /** Output mismatches; empty when every output is correct. */
  def check(): Seq[String]
  /** Extra end-to-end metrics: (name, value, unit). */
  def extraMetrics(): Seq[(String, Double, String)] = Nil
  /** Extra per-layer metrics of the traced run. */
  def layerMetrics(): Seq[(String, Double, String)] = Nil
}

object QueryWorkload {
  /** Bench's action: one row from a hash over every output column, so
    * every output expression runs and a final ORDER BY is eliminated. */
  def hashAction(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("__h"))
      .agg(sum(col("__h"))).collect()
    String.valueOf(r(0).get(0))
  }

  /** query_mix's queries by family: the LLM-data operators of `graft.ext`
    * (dedup .. token) and the analytics of `graft.pipelines` and
    * `graft.ops` (tpch .. join). One pass must fit the run budget, so each
    * family keeps one to three of its cheaper queries, with many near the
    * median latency so the median does not jump with the order; text
    * keeps q_quality_ensemble, which the roadmap targets. The cluster
    * label-propagation loops (q_dup_clusters, q_dup_clusters_sig: 3-7 s
    * each) and the IVF searches, whose index build is cached once per JVM
    * and costs more cold than the rest of a run's set-up, do not fit. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q_dedup_exact", "q_dedup_key"),
    "clusters" -> Seq("q_dup_spans"),
    "sketch" -> Seq("q_winnow_fp", "q_minhash_sig"),
    "ann" -> Seq("q_ann_topk", "q_ann_lsh"),
    "text" -> Seq("q_quality_ensemble"),
    "token" -> Seq("q_token_count", "q_chunk_budget"),
    "tpch" -> Seq("q_tpch_q6", "q_tpch_q14"),
    "pipeline" -> Seq("q_pipeline_news"),
    "timeseries" -> Seq("q_window_hourly", "q_pct_change"),
    "join" -> Seq("q_semi_join_bloom", "q_join_agg"))

  /** Queries run once, untimed, before the first timed pass: in a fresh
    * JVM the first queries pay seconds of class loading and JIT, which
    * would otherwise land on whichever queries the seed puts first and
    * move the median with the seed. Five of the pass's cheapest queries
    * warm the scan, join, aggregate and text paths. */
  val Warm: Seq[String] = Seq("q_tpch_q6", "q_token_count", "q_dedup_exact",
    "q_pipeline_news", "q_semi_join_bloom")
}

/** `query_mix`: one client runs the queries through the `SparkEntry`
  * catalog, each followed by Bench's hash action, in a seed-permuted order
  * per pass, with the cache cleared after each query outside its timing.
  * Every hash must equal the expected one. */
final class QueryWorkload(spark: SparkSession, rec: Recorder, rigDir: String,
    seed: Long, expected: Map[String, String]) extends Workload {
  import QueryWorkload._

  private val queries = Families.flatMap { case (f, qs) => qs.map(_ -> f) }
  private val rng = new scala.util.Random(seed)
  private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

  private def run(name: String, family: String): Unit = {
    rec.op("query", name, family) {
      val df = rec.span("catalog")(graft.SparkEntry.queries(name)(spark, rigDir))
      val h = rec.span("action")(hashAction(df))
      if (!expected.get(name).contains(h))
        mismatches += s"$name: hash $h, expected ${expected.getOrElse(name, "none")}"
    }
    spark.catalog.clearCache()
  }

  private def pass(): Unit = rng.shuffle(queries).foreach { case (q, f) => run(q, f) }

  def setup(): Unit = ()
  def warm(): Unit = rec.untimed(Warm.foreach(q => run(q, "warm")))
  def timed(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) pass()
  def check(): Seq[String] = mismatches.distinct.toSeq

  /** Runs every query, warm-up ones too, once; dumps its output under
    * `dumpDir` and returns its hash: the expected-hash file's source,
    * never used in a timed run. */
  def record(dumpDir: String): Seq[(String, String)] =
    (queries.map(_._1) ++ Warm).distinct.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, rigDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
      val h = hashAction(df)
      spark.catalog.clearCache()
      q -> h
    }
}
