package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Projection / reshape ops (SURVEY.md §2.2, §2.8).
  *
  * The reference's nested-JSON projections (`etl.py:278-283`), list-column
  * splits (`etl.py:398-399`) and dict-transpose zip (`etl.py:397`) become
  * `from_json` + struct field access, `element_at`, and a full-outer join —
  * the join the reference hides inside a pandas transpose.
  */
object Reshape {

  /** Parse a JSON-string column against a schema (ref `etl.py:271-283`). */
  def parseJson(c: Column, schema: DataType): Column = from_json(c, schema)

  /** Split an array column into N named columns (ref `etl.py:398-399`).
    * `element_at` is 1-based. */
  def colSplit(df: DataFrame, arrCol: String, names: Seq[String]): DataFrame =
    names.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
      d.withColumn(n, element_at(col(arrCol), i + 1))
    }.drop(arrCol)

  /** Append frames by column name (ref `df.append`, `etl.py:132, 293`). */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_.unionByName(_))

  /** Align two date-keyed frames on their key — the reference's only
    * join-like op, the 2-dict transpose at `etl.py:397` = full-outer zip.
    * Scale posture: plain equi-join; Catalyst broadcasts the small side or
    * sort-merges on the key shuffle — no custom code needed.
    */
  def zipByKey(left: DataFrame, right: DataFrame, key: String): DataFrame =
    left.join(right, Seq(key), "full_outer")
}
