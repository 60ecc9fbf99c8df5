package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` surface needed to expose custom
  * Catalyst expressions as user-facing Columns (the Expression↔Column
  * converters moved behind the Column-node API in Spark 4), and to
  * merge parquet footer schemas the way `mergeSchema` does. Lives in a
  * subpackage of org.apache.spark.sql solely for access; no Spark
  * internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Column.internalFn` — the internal-function constructor the
    * Spark 4 `DataFrameStatFunctions` itself uses (e.g.
    * `bloom_filter_agg`); private[sql], hence bridged here. */
  def internalFn(name: String, args: Column*): Column =
    Column.internalFn(name, args: _*)

  /** An Observation's metrics row, in the order of its expressions,
    * waiting at most `waitMs` for the async listener that delivers it;
    * None when it has not arrived. */
  def observedRow(o: org.apache.spark.sql.Observation, waitMs: Long)
      : Option[org.apache.spark.sql.Row] =
    try Some(scala.concurrent.Await.result(o.future,
      scala.concurrent.duration.Duration(waitMs, "ms")))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `StructType.merge` (private[sql]) — the merge parquet's
    * `mergeSchema` folds footer schemas with: fields of `a` first in
    * their order, then `b`'s new fields; nested structs merge alike. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType, caseSensitive: Boolean)
      : org.apache.spark.sql.types.StructType = a.merge(b, caseSensitive)

  /** `StructType.asNullable` (private[spark]): the shape every file
    * source read exposes, nested fields included. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Materialize a SparkSessionExtensions' function injections into a
    * fresh registry — lets tests assert what an extensions class
    * registers without tearing down the suite's shared session (session
    * builders apply extensions only at initial session creation). */
  def buildRegistry(ext: org.apache.spark.sql.SparkSessionExtensions)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry = {
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg
  }
}
