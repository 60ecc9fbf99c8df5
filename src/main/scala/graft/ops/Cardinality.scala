package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Distinct-cardinality estimation via a KMV (k-minimum-values) sketch.
  *
  * Why not `approx_count_distinct`: Spark's HLL++ is a fine production
  * answer but its estimate is implementation-defined — no other engine
  * reproduces it, so it cannot be oracle-verified and two stacks
  * profiling the same corpus disagree for no data reason. KMV under a
  * shared hash is ENGINE-INDEPENDENT: the k smallest distinct md5
  * fingerprints of a column are a set-valued, order-free fact of the
  * data, and the standard estimator `(k-1) / R_k` (R_k = the kth
  * smallest hash mapped to [0,1)) is one IEEE divide on integers both
  * engines derive identically from the hex — bit-identical
  * cross-engine, ±1/√(k-2) relative error (Beyer et al., 2007).
  *
  * Scale shape: ONE pass over the data, no shuffle of distinct keys —
  * each partition keeps a capped sorted buffer of its k smallest
  * distinct fingerprints (the classic mergeable KMV partial; union of
  * buffers then re-cap is associative and commutative), and only
  * partitions × k fingerprint ROWS move to the final tiny merge. An
  * exact `distinct().count()` at 100 TB shuffles every distinct key;
  * this shuffles a few thousand 32-char strings regardless of corpus
  * size.
  */
object Cardinality {

  /** 16^15 = 2^60 as an exact double: the normalizer that maps a 15-hex-
    * digit (60-bit) fingerprint prefix onto [0,1) without precision loss
    * (both 2^60 and every 60-bit integer are exact in ieee754 binary64). */
  private val HexNormalizer = math.pow(16.0, 15.0)

  /** The sketch itself: the k smallest DISTINCT md5 fingerprints of
    * `key` across `df`, as a (fp) frame of ≤ k rows. Deterministic —
    * a pure function of the distinct value set. */
  def kmvSketch(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val spark = df.sparkSession
    val fps = df.select(md5(key.cast("string")).as("fp"))
      .where(col("fp").isNotNull)
    // Per-partition capped distinct-min-k buffer: a TreeSet bounded at k
    // entries. This is the mergeable KMV partial — emitting it per
    // partition is the map-side combine an aggregate would do, without
    // shuffling any non-surviving fingerprint.
    val partials = fps.as[String](Encoders.STRING).mapPartitions { it =>
      val buf = new java.util.TreeSet[String]()
      it.foreach(offer(buf, _, k))
      scala.jdk.CollectionConverters.IteratorHasAsScala(buf.iterator()).asScala
    }(Encoders.STRING).toDF("fp")
    // Global merge over partitions×k rows — tiny by construction; the
    // distinct absorbs fingerprints that survived in several partitions.
    partials.distinct().orderBy("fp").limit(k)
  }

  /** One-row cardinality estimate from the sketch: `n_est` is exact when
    * fewer than k distinct fingerprints exist (the sketch IS the value
    * set), else `(k-1) / R_k`. `kth_prefix` (the 60-bit integer prefix
    * of the kth hash) is surfaced so the estimate is auditable. */
  def kmvEstimate(df: DataFrame, key: Column, k: Int): DataFrame = {
    val sketch = kmvSketch(df, key, k)
    sketch
      .agg(count(lit(1)).as("n_sketch"),
        max(prefix(col("fp"))).as("kth_prefix"))
      .select(
        col("n_sketch").cast(LongType).as("n_sketch"),
        col("kth_prefix"),
        round(estimate(col("n_sketch"), col("kth_prefix"), k), 6).as("n_est"))
  }

  /** Offer fingerprint `fp` to a buffer of the k smallest distinct
    * fingerprints: the mergeable KMV partial's insert. */
  private[graft] def offer(buf: java.util.TreeSet[String], fp: String,
      k: Int): Unit =
    if (buf.size < k) buf.add(fp)
    else if (fp < buf.last && buf.add(fp)) buf.pollLast()

  /** The KMV merge: the k smallest of two sketches' union, ascending.
    * The k smallest of A∪B all lie in (k smallest of A) ∪ (k smallest
    * of B), so this IS the sketch of the union. */
  private[graft] def union(a: Array[String], b: Array[String],
      k: Int): Array[String] = {
    val buf = new java.util.TreeSet[String]()
    (a.iterator ++ b.iterator).foreach(offer(buf, _, k))
    buf.toArray(new Array[String](0))
  }

  /** A fingerprint's 15-hex-digit prefix as a 60-bit integer, in pure
    * integer arithmetic (conv is exact here; 60 bits fits a long with
    * headroom). */
  private[graft] def prefix(fp: Column): Column =
    conv(substring(fp, 1, 15), 16, 10).cast(LongType)

  /** The estimator over a sketch of `n` fingerprints whose kth smallest
    * has prefix `kthPrefix` ([[prefix]]): exact `n` below k (the sketch
    * IS the value set), else `(k-1) / R_k`. Unrounded: each caller
    * rounds. */
  private[graft] def estimate(n: Column, kthPrefix: Column, k: Int): Column =
    when(n < k, n.cast(DoubleType)).otherwise(
      lit((k - 1).toDouble * HexNormalizer) / kthPrefix.cast(DoubleType))
}
