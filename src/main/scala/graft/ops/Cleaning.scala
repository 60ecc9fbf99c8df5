package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType}

/** Null imputation and casts (SURVEY.md §2.4; ref `etl.py:137-150, 405-412`).
  *
  * The reference's mean-impute is broken as written (`etl.py:142` binds the
  * method, not its result) — we implement the INTENDED fill-with-column-mean.
  */
object Cleaning {

  /** Default approx_percentile sketch accuracy (rank error ≤ 1/accuracy of
    * the group size). ONE definition — q_winsorize_approx certifies the
    * sketch at exactly this accuracy, so the operator default and the
    * oracle contract cannot drift apart. */
  val DefaultSketchAccuracy: Int = 10000

  /** Replace nulls in each column with that column's global mean.
    *
    * Scale posture: ONE aggregate pass computes all means (map-side partial
    * agg → 1-row result), then a broadcast cross join feeds `coalesce` —
    * no driver collect, no per-column pass, no global window. At 100 TB this
    * is a full scan + a broadcast of one tiny row; the scan would normally be
    * shared with the consumer via caching or a pre-computed stats table.
    *
    * Means use the repo's decimal-exact-sum convention (sum in
    * DECIMAL(25,6) → cast double → divide by count → round): a plain
    * double avg() is add-order-dependent, i.e. partitioning-dependent, and
    * a half-ulp straddle could flip the rounded digit under different
    * parallelism. The decimal sum is exact and order-free, so the mean is
    * bit-identical across engines and cluster sizes.
    */
  def imputeMean(df: DataFrame, cols: Seq[String], scale: Int = 6): DataFrame = {
    val aggs = cols.map(c => round(
      sum(col(c).cast(DecimalType(25, 6))).cast(DoubleType) / count(col(c)),
      scale).as(s"__mean_$c"))
    val means = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(means))
    val filled = cols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), col(s"__mean_$c")))
    }
    filled.drop(cols.map(c => s"__mean_$c"): _*)
  }

  /** Cast a set of columns to one type (ref `etl.py:148-150, 412`). */
  def castCols(df: DataFrame, cols: Seq[String], to: DataType): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(to)))

  /** Winsorization: clip a numeric column to its per-group [lo, hi]
    * percentiles — the standard outlier treatment before a numeric
    * feature feeds training. Exact R-7 percentiles (the q_length_stats
    * convention — matches DuckDB quantile_cont), rounded to 6dp BEFORE
    * clipping so both engines clip against the identical boundary.
    *
    * Semantics a cleaning op owes dirty data: a NULL value stays NULL
    * (imputation is imputeMean's explicit job — greatest/
    * least SKIP nulls, which would silently fabricate the p05 value);
    * a NULL group key keeps its rows and clips within the NULL group
    * (the join is null-safe — plain using-column equality would drop
    * them); output columns keep the input's order.
    *
    * Plan: ONE aggregate pass computes both bounds via a single
    * array-percentile buffer per group, then a broadcast join feeds
    * least/greatest — group count is dimension-like (bounded), so the
    * fact side never shuffles; clipping is map-only codegen'd work.
    * Exact percentile partials buffer the group's values; at corpus
    * scale swap in `approx_percentile` (mergeable sketch, same shape —
    * the q_length_stats twin verifies it tracks exact). */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    clipToBounds(df, valueCol, groupCols,
      percentile(col(valueCol), array(lit(lo), lit(hi))))
  }

  /** The 100 TB winsorization: identical shape and clip semantics, with
    * the bounds from `approx_percentile` — a constant-size mergeable
    * sketch (map-side combinable partials), where the exact percentile
    * buffers every group value in its aggregation buffer. Rank-error
    * guarantee ≤ 1/accuracy of the group size; q_winsorize_approx pins
    * the sketch bound's empirical rank to the target percentile with the
    * within-ε-boolean oracle contract. */
  def winsorizeApprox(df: DataFrame, valueCol: String, groupCols: Seq[String],
                      lo: Double, hi: Double,
                      accuracy: Int = Cleaning.DefaultSketchAccuracy): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    clipToBounds(df, valueCol, groupCols,
      approx_percentile(col(valueCol), array(lit(lo), lit(hi)), lit(accuracy)))
  }

  /** Shared clip tail: one aggregate pass computes both bounds via a
    * single array-valued buffer per group (`boundsAgg` supplies exact or
    * sketch percentiles), then a broadcast join feeds least/greatest. */
  private def clipToBounds(df: DataFrame, valueCol: String,
                           groupCols: Seq[String], boundsAgg: Column): DataFrame = {
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(boundsAgg.as("__b"))
      .select(groupCols.map(c => col(c).as(s"__g_$c")) :+
        round(element_at(col("__b"), 1), 6).as("__lo") :+
        round(element_at(col("__b"), 2), 6).as("__hi"): _*)
    // Empty groupCols = GLOBAL winsorization: one bounds row, broadcast
    // cross join (the imputeMean shape) — reduce over zero conditions
    // would throw.
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(broadcast(bounds),
        groupCols.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _))
    joined
      .withColumn(valueCol, when(col(valueCol).isNotNull,
        least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Percentile binning — the scale-correct ntile. `ntile(n)` over a
    * corpus-wide window is a GLOBAL sort in one task (Window with no
    * partition key); this shape is one (optionally per-group) aggregate
    * pass for the boundaries — exact `percentile`, or the
    * `approx_percentile` sketch when `accuracy` is given (the 100 TB
    * variant, same trade as winsorizeApprox) — broadcast to the fact
    * side, then a map-only codegen'd when-chain: bin = how many
    * boundaries sit at or below the value (0 .. probs.size). Unlike
    * ntile's equal-COUNT buckets, bins are equal-RANGE-BY-QUANTILE:
    * ties straddling a boundary land in the same bin, which is what
    * curriculum/mixing policies actually want (same score ⇒ same
    * treatment). Boundaries are 6dp-rounded (the cross-engine
    * convention); NULL values take a NULL bin. Appends `bin` to the
    * input columns. */
  def percentileBins(df: DataFrame, valueCol: String, groupCols: Seq[String],
                     probs: Seq[Double], accuracy: Option[Int] = None): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1) &&
      probs == probs.sorted && probs.distinct == probs,
      s"probs must be strictly increasing in (0, 1), got $probs")
    val arr = array(probs.map(lit): _*)
    val agg = accuracy
      .map(a => approx_percentile(col(valueCol), arr, lit(a)))
      .getOrElse(percentile(col(valueCol), arr))
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(agg.as("__b"))
      .select(groupCols.map(c => col(c).as(s"__g_$c")) ++
        probs.indices.map(i => round(element_at(col("__b"), i + 1), 6).as(s"__b$i")): _*)
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(broadcast(bounds),
        groupCols.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _))
    joined
      .withColumn("bin", when(col(valueCol).isNotNull,
        probs.indices.map(i =>
          when(col(valueCol) >= col(s"__b$i"), 1).otherwise(0)).reduce(_ + _)))
      .select(df.columns.toIndexedSeq.map(col) :+ col("bin"): _*)
  }
}
