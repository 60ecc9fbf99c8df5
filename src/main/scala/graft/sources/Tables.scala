package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, TimestampType}

/** Parquet table reader for the driver testdata layout (`<dir>/<name>.parquet`).
  *
  * Timestamp normalization — the testdata generator has produced two
  * physical encodings across rounds and this reader accepts both:
  *
  *  - ns-precision (`timestamp[ns]`): Spark rejects TIMESTAMP(NANOS)
  *    outright (PARQUET_TYPE_ILLEGAL), so sessions set
  *    `spark.sql.legacy.parquet.nanosAsLong=true` and this reader converts
  *    the resulting epoch-nanos LongType back to TimestampType at
  *    microsecond precision (truncation — same behavior as DuckDB's ns→µs
  *    read, which the oracle sees). Integer `div`, not `/`: epoch-nanos
  *    ≈ 1.7e18 overflows the 53-bit double mantissa.
  *  - µs-precision without the UTC flag (`timestamp[us]`,
  *    isAdjustedToUTC=false): Spark 4 infers TIMESTAMP_NTZ by default,
  *    which time-arithmetic functions (`unix_micros`, …) reject. We
  *    disable the inference (`spark.sql.parquet.inferTimestampNTZ.enabled
  *    =false`) so the column reads as session-local TIMESTAMP — under the
  *    project-wide UTC session that is value-identical to DuckDB's naive
  *    read, and no cast node lands on top of the scan.
  */
object Tables {

  /** Column names that hold ns-epoch longs after the legacy read. */
  private val NanoTsCols = Set("ts")

  /** Runtime confs every testdata read needs (idempotent; callers with
    * their own `spark.read.parquet` on driver testdata must apply this
    * too — `Bench`'s split-file rewrite does).
    *
    * SESSION-GLOBAL side effect, by design: `inferTimestampNTZ` is a
    * runtime conf, so every read in the session — including ones that
    * never touch testdata — loses NTZ inference after the first
    * `table()` call. Under the project-wide UTC/LTZ convention that is
    * the intended state everywhere; a co-resident workload that
    * genuinely needs TIMESTAMP_NTZ inference must run in its own
    * session (`SparkSession.newSession` shares the context but not
    * runtime confs). */
  def configureReads(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    configureReads(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val norm = df.schema.fields.foldLeft(df) {
      case (d, StructField(n, LongType, _, _)) if NanoTsCols(n) =>
        d.withColumn(n, timestamp_micros(expr(s"$n div 1000")))
      case (d, _) => d
    }
    // No fan-out repartition here: single-row-group local testdata used
    // to be repartitioned to cluster parallelism under a bench-only knob,
    // but that exchange taxed every read; Bench now rewrites its inputs
    // once into split files instead (real splits, like a cluster's
    // multi-file tables), so every consumer sees the undisturbed plan.
    norm
  }

  /** Schema-pinned CSV read — the third source format next to parquet
    * and JSON. The schema is SUPPLIED, never inferred: inference costs
    * an extra full pass over 100 TB of text and silently changes types
    * when the data drifts; a pinned schema reads in one pass and makes
    * drift a visible null (PERMISSIVE mode, the reference's pandas-like
    * leniency) instead of a type flip. Quoting/escaping are Spark CSV
    * defaults (RFC-4180-style double quotes), matching what `writeCsv`
    * emits, so the pair round-trips any cell content.
    *
    * `multiLine` stays FALSE by default: single-line mode keeps CSV
    * files SPLITTABLE (a 100 TB CSV reads in parallel per split);
    * multiLine forces one reader per file and exists only for data with
    * embedded newlines — prefer fixing the producer. */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              multiLine: Boolean = false): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("multiLine", multiLine.toString)
      .csv(path)

  /** CSV write half of the round-trip contract (header + default
    * quoting). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Schema-pinned JSONL read — the interchange format most training
    * stacks actually consume. Like `readCsv`, the schema is SUPPLIED,
    * never inferred: inference costs an extra full pass over 100 TB of
    * text and silently flips types when the data drifts; a pinned schema
    * reads in one pass and PERMISSIVE mode surfaces a malformed line as
    * nulls instead of failing the job. Gzipped inputs (`*.json.gz`) read
    * transparently — but NOTE a gzip member is NOT splittable, so read
    * parallelism is per FILE: the writer's shard/part-file count, not
    * intra-file splitting, sets the scan fan-out at 100 TB (keep part
    * files ~100 MB–1 GB compressed). */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** JSONL write half (gzip by default — the corpus interchange
    * convention). JSON string escaping keeps every record on one
    * physical line, so text with embedded newlines round-trips without
    * the CSV `multiLine` trap — every output file stays splittable-ready
    * (per-file parallel) and line-countable by any consumer. */
  def writeJsonl(df: DataFrame, path: String, gzip: Boolean = true): Unit = {
    val w = df.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** Read a parquet dataset whose shards were written under EVOLVING
    * schemas — the data-lake reality for any corpus appended to over
    * months: early shards lack columns later shards carry. Spark's
    * per-file reader projects each file by name and null-fills columns
    * absent from that file; the question is only where the UNION schema
    * comes from:
    *
    *  - `schema = Some(...)` (the 100 TB path): the caller supplies the
    *    current superset schema (from its catalog / schema registry).
    *    One pinned one-pass read, no footer sweep.
    *  - `schema = None`: `mergeSchema=true` — Spark reads EVERY file's
    *    footer (a distributed job over potentially millions of files)
    *    to union the schemas before the scan. Correct, and the right
    *    tool for ad-hoc exploration, but it is an extra metadata pass
    *    the pinned form avoids; EvolvingSchemaSpec pins that both forms
    *    read identical rows.
    *
    * Columns a file lacks surface as nulls — the same semantics DuckDB's
    * `union_by_name` gives the oracle. */
  def readParquetEvolved(spark: SparkSession, path: String,
                         schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.option("mergeSchema", "true").parquet(path)
    }

  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
