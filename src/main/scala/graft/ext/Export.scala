package graft.ext

import graft.ops.Checksum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data EXPORT — the pipeline's last mile: ship a curated
  * corpus as hash-sharded parquet plus a manifest the RECEIVER can
  * verify without trusting the writer.
  *
  * Shard assignment is the repo's deterministic md5 bucket (a pure
  * content function — re-exports and re-shards of the same corpus
  * produce byte-stable shard membership), the layout is
  * `PARTITION BY shard` (each shard is one directory a downstream
  * trainer streams independently), and the manifest carries each
  * shard's row count + order-insensitive checksum
  * (`Checksum.partitionChecksums`). Validation = recompute the same
  * two-column table on the receiving side and diff two tiny frames —
  * the 100 TB transfer is verified with zero row comparisons, and any
  * dropped/duplicated/corrupted row pins to its shard. */
object Export {

  /** Write `df` sharded by `key` into `path` and return the manifest
    * (shard, n_rows, checksum) COMPUTED FROM THE DATA READ BACK off the
    * sink — so the returned manifest vouches for what is actually on
    * disk, not for what the writer intended (a write-path bug surfaces
    * as a manifest mismatch, not a silent corrupt export).
    * `cols` must be checksum-portable (no raw float/double — cast to
    * DECIMAL first; enforced by partitionChecksums). */
  def writeShardedCorpus(spark: SparkSession, df: DataFrame, key: Column,
                         nShards: Int, path: String,
                         cols: Seq[String]): DataFrame = {
    require(nShards >= 1, "need at least one shard")
    df.withColumn("shard", Sampling.hashBucket(key, nShards))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    manifestOf(spark.read.parquet(path), cols)
  }

  /** JSONL twin of `writeShardedCorpus` — the interchange last mile:
    * gzipped JSONL under the SAME pure md5 shard key, so a corpus
    * exported as parquet, CSV, or JSONL has byte-identical shard
    * membership (a consumer can mix formats per shard and the manifest
    * still lines up). The returned manifest is computed from the sink
    * READ BACK through the schema-pinned JSONL reader — it vouches for
    * what a downstream trainer will actually PARSE, so a serialization
    * or escaping bug surfaces as a manifest mismatch, not a corrupt
    * delivery. Gzip members are not splittable: each shard directory's
    * part-file count (the writer's task count) is the consumer's read
    * parallelism — size shards/partitions accordingly. */
  def writeJsonlCorpus(spark: SparkSession, df: DataFrame, key: Column,
                       nShards: Int, path: String,
                       cols: Seq[String]): DataFrame = {
    require(nShards >= 1, "need at least one shard")
    df.withColumn("shard", Sampling.hashBucket(key, nShards))
      .write.partitionBy("shard").mode("overwrite")
      .option("compression", "gzip").json(path)
    // Read back with the DATA schema pinned; the shard partition column
    // comes from directory discovery (manifestOf normalizes its type).
    manifestOf(graft.sources.Tables.readJsonl(spark, path,
      org.apache.spark.sql.types.StructType(df.schema.fields)), cols)
  }

  /** Pure-Java zstd Hadoop codec bundled with Spark (aircompressor —
    * shipped in `/opt/spark/jars` for parquet/orc): the modern
    * interchange codec for text sinks. Spark's built-in short names for
    * text sources stop at gzip/lz4 because Hadoop's own `ZStandardCodec`
    * needs native libhadoop+libzstd; the aircompressor adapter is a full
    * `CompressionCodec` with no native dependency, and Spark's
    * `compression` option accepts a codec CLASS name, so
    * `option("compression", ZstdCodecClass)` writes `.json.zst` part
    * files anywhere the jar is present. */
  val ZstdCodecClass = "io.airlift.compress.zstd.ZstdCodec"

  /** Register `codecClass` with Hadoop's codec factory so READS resolve
    * the part-file extension (`.zst`) to it — the write path takes the
    * class name directly, but `CompressionCodecFactory` only consults
    * `io.compression.codecs`. Appends to the factory's CURRENT codec
    * set (`CompressionCodecFactory.getCodecClasses` — the conf list if
    * set, else the full ServiceLoader discovery), never replaces it: a
    * hand-rolled fallback list would silently unregister the
    * deflate/lz4/snappy extensions for every later text read in the
    * session. Session-global by nature (the factory reads the
    * context's Hadoop conf), idempotent. */
  def ensureCodecReadable(spark: SparkSession, codecClass: String = ZstdCodecClass): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "io.compression.codecs"
    import scala.jdk.CollectionConverters._
    val current = org.apache.hadoop.io.compress.CompressionCodecFactory
      .getCodecClasses(conf).asScala.map(_.getName).toSeq
    if (!current.contains(codecClass))
      conf.set(key, (current :+ codecClass).mkString(","))
  }

  /** SIZE-targeted zstd JSONL export — shard boundaries fall on a
    * cumulative-BYTE threshold, not a row count or hash bucket: a corpus
    * of mixed tiny and huge documents still lands in ~`targetBytes`
    * shards (hash sharding would leave shard sizes at the mercy of the
    * size distribution; a 100 TB delivery wants "shards of ~1 GiB", not
    * "shards of ~n rows").
    *
    * Sharding is [[Sampling.packByBudget]]'s striped prefix-sum rule
    * applied to `sizeBytes`: rows hash into `stripes` independent
    * stripes (the parallelism knob — the cumulative sum is per-stripe,
    * so no global window serializes one reducer at 100 TB), each stripe
    * orders by the stable (md5(key), key) total order and cuts at
    * running-byte boundaries; the flattened shard id is
    * `pack · stripes + stripe` (globally unique; each shard's rows come
    * whole from one stripe). Size bounds: any shard overshoots the
    * target by at most its boundary row, and every shard except each
    * stripe's last carries ≥ `targetBytes` when rows fit the target —
    * a row LARGER than the target jumps the running sum mid-pack, so
    * the general non-final lower bound is > targetBytes − maxRowBytes
    * (ExtSpec pins the fits case, PropertySpec the jump-in case).
    * Deterministic — a pure function of (key, sizeBytes) — so the
    * DuckDB oracle reproduces membership bit-for-bit.
    *
    * `sizeBytes` is the caller's size measure (payload bytes like
    * `octet_length(text)`, or the full serialized line — the boundary
    * rule only needs it deterministic). Returns the manifest computed
    * from the sink READ BACK through the schema-pinned JSONL reader,
    * like [[writeJsonlCorpus]]. */
  /** The size-targeted shard assignment alone — [[Sampling.packByBudget]]'s
    * striped prefix-sum rule over `sizeBytes`, flattened to the globally
    * unique `shard = pack · stripes + stripe`. Format-independent by
    * construction: the parquet and JSONL sized writers share it
    * verbatim, so one corpus carries ONE sized-shard membership (and
    * one manifest) whatever the wire format. */
  def sizedShards(df: DataFrame, key: Column, sizeBytes: Column,
                  targetBytes: Long, stripes: Int): DataFrame = {
    require(targetBytes >= 1, "target bytes per shard must be >= 1")
    Sampling.packByBudget(df, key, sizeBytes, targetBytes, stripes)
      .withColumn("shard",
        (col("pack_id") * stripes + col("shard")).cast("int"))
      .drop("pack_id")
  }

  def writeJsonlCorpusSized(spark: SparkSession, df: DataFrame, key: Column,
                            sizeBytes: Column, targetBytes: Long, stripes: Int,
                            path: String, cols: Seq[String],
                            codecClass: String = ZstdCodecClass): DataFrame = {
    ensureCodecReadable(spark, codecClass)
    sizedShards(df, key, sizeBytes, targetBytes, stripes)
      .write.partitionBy("shard").mode("overwrite")
      .option("compression", codecClass).json(path)
    manifestOf(graft.sources.Tables.readJsonl(spark, path,
      org.apache.spark.sql.types.StructType(df.schema.fields)), cols)
  }

  /** Parquet twin of [[writeJsonlCorpusSized]] — same shard rule, same
    * manifest, columnar wire format, zstd-compressed (parquet's zstd is
    * the bundled zstd-jni — no codec registration needed on reads). */
  def writeShardedCorpusSized(spark: SparkSession, df: DataFrame, key: Column,
                              sizeBytes: Column, targetBytes: Long,
                              stripes: Int, path: String, cols: Seq[String],
                              codec: String = "zstd"): DataFrame = {
    sizedShards(df, key, sizeBytes, targetBytes, stripes)
      .write.partitionBy("shard").mode("overwrite")
      .option("compression", codec).parquet(path)
    manifestOf(spark.read.parquet(path), cols)
  }

  /** Manifest of a sharded corpus (works on either side of the wire). */
  def manifestOf(sharded: DataFrame, cols: Seq[String]): DataFrame =
    Checksum.partitionChecksums(
      sharded.withColumn("shard", col("shard").cast("int")),
      Seq("shard"), cols)

  /** Compact a sharded corpus sink in place-to-new-path: rewrite each
    * shard's many small part files (the debris a long-running streaming
    * upsert or many tiny appends leave behind — the classic small-files
    * problem: a 100 TB sink with 10⁶ KB-sized files pays per-file open/
    * footer cost on every scan) into `filesPerShard` files per shard.
    * Content is untouched BY CONSTRUCTION and the caller can prove it:
    * the manifest is order-insensitive, so `manifestOf(compacted)` must
    * equal `manifestOf(original)` bit for bit (ExtSpec pins this; the
    * oracle query proves it against DuckDB). One shuffle (the
    * repartition that coalesces files); shard membership never changes,
    * so the manifest stays the receiver-side validation token across
    * compactions. */
  def compactShards(spark: SparkSession, path: String, outPath: String,
                    filesPerShard: Int): Unit = {
    require(filesPerShard >= 1, "need at least one file per shard")
    val df = spark.read.parquet(path).withColumn("shard", col("shard").cast("int"))
    // Content-derived file salt (deterministic, unlike round-robin):
    // each shard spans at most `filesPerShard` salt values, each salt
    // value lands whole in one shuffle task, so each shard directory
    // gets at most `filesPerShard` part files however fragmented the
    // input was.
    val salt = pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)),
      lit(filesPerShard.toLong))
    df.repartition(col("shard"), salt)
      .write.partitionBy("shard").mode("overwrite").parquet(outPath)
  }

  /** Evenly-spaced cut points over `key`'s VALUE range: one tiny
    * min/max aggregate, then exact integer interpolation
    * cut_i = lo + (i·(hi−lo)) div n for i = 1..n−1. Value-uniform by
    * construction — the right default for dense surrogate keys (doc
    * ids); for skewed distributions compute quantile cuts upstream and
    * hand them to [[writeSortedCorpus]] directly (the writer takes ANY
    * ascending cut list). Deterministic and integer-exact, unlike
    * `repartitionByRange`'s sampled boundaries — which is what lets a
    * receiver (or the DuckDB oracle) reproduce shard membership
    * bit-for-bit from the manifest alone. Empty input → no cuts. */
  def valueRangeCuts(df: DataFrame, key: Column, nShards: Int): Seq[Long] = {
    require(nShards >= 1, "need at least one shard")
    val r = df.agg(min(key.cast("long")).as("lo"), max(key.cast("long")).as("hi")).head()
    if (r.isNullAt(0)) Seq.empty
    else {
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      (1 until nShards).map(i => (BigInt(hi - lo) * i / nShards + lo).toLong)
    }
  }

  /** Shard of `key` under ascending `cuts`: the count of cut points at
    * or below the key — searchsorted expressed as a codegen'd
    * when-chain, map-only. NULL keys land in shard 0 (every comparison
    * is null → otherwise(0)). */
  def rangeShard(key: Column, cuts: Seq[Long]): Column =
    if (cuts.isEmpty) lit(0)
    else cuts.map(c => when(key >= c, 1).otherwise(0)).reduce(_ + _)

  /** RANGE-partitioned SORTED export — the layout receivers need for
    * per-shard binary search: shard k holds exactly the keys in
    * [cut_{k-1}, cut_k) (contiguous, disjoint, ordered by shard id),
    * and every part file is sorted by the key. One shuffle (hash on the
    * shard id — each shard lands whole in one task, so `partitionBy`
    * emits one file per shard per write) + the task-local sort;
    * `sortWithinPartitions(shard, key)` keeps per-file key order even
    * when several shards share a task. Returns the SORTED manifest
    * (shard, n_rows, checksum, key_min, key_max) computed from the data
    * READ BACK off the sink — the same vouch-for-what-landed contract
    * as [[writeShardedCorpus]], extended with each shard's key range so
    * the manifest doubles as the shard index. */
  def writeSortedCorpus(spark: SparkSession, df: DataFrame, keyCol: String,
                        cuts: Seq[Long], path: String,
                        cols: Seq[String]): DataFrame = {
    require(cuts == cuts.sorted, "cut points must be ascending")
    df.withColumn("shard", rangeShard(col(keyCol), cuts).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(keyCol))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    sortedManifestOf(spark.read.parquet(path), keyCol, cols)
  }

  /** Manifest of a sorted sharded corpus: the plain manifest columns
    * plus each shard's [key_min, key_max] — the receiver's
    * binary-search index (a point/range lookup touches only the shards
    * whose range intersects it). Works on either side of the wire, like
    * [[manifestOf]]. */
  def sortedManifestOf(sharded: DataFrame, keyCol: String,
                       cols: Seq[String]): DataFrame = {
    Checksum.rejectFp(sharded, cols)
    sharded.withColumn("shard", col("shard").cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Checksum.rowHash(cols.map(col))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("string").as("checksum"),
        min(col(keyCol)).as("key_min"),
        max(col(keyCol)).as("key_max"))
  }

  /** Deterministic GLOBAL-SHUFFLE export — the training-order last
    * mile: every row gets a pseudo-random 128-bit position (the FULL
    * md5 of its key + salt "shuffle", kept as the 32-char lowercase
    * hex string — fixed-length hex compares bytewise exactly as the
    * 128-bit integer does, in Spark, parquet stats, and any SQL
    * engine), and the corpus lands range-partitioned and sorted BY
    * POSITION. A dataloader streaming shards in order reads a
    * reproducible pseudo-random permutation of the corpus — no
    * shuffled copy materialized corpus-side beyond the one sorted
    * write, and re-exports of the same corpus produce the identical
    * order on any cluster. The returned sorted manifest carries each
    * shard's position range, so shards can also be sampled or resumed
    * mid-epoch by position.
    *
    * Shard cuts interpolate over the position's LEADING 60 bits (hash
    * uniformity lives in any prefix, so cuts stay near-equal), while
    * rows order by the full 128 bits — prefix order agrees with full
    * order, so shard ranges and the in-shard sort describe one total
    * order. At 128 bits position collisions are gone at any corpus
    * size (the 60-bit layout's documented billion-doc birthday pair
    * is deleted, not just pushed out): distinct keys mean distinct
    * positions, and the exported order is a true pure permutation of
    * the corpus. `shuffle_pos` is emitted as a data column
    * (checksummed — the order is part of the delivery). */
  def writeShuffledCorpus(spark: SparkSession, df: DataFrame, key: Column,
                          nShards: Int, path: String,
                          cols: Seq[String]): DataFrame = {
    // Output-column contract: `shuffle_pos` is emitted (and
    // checksummed) — a pre-existing column of that name would be
    // SILENTLY overwritten by withColumn, corrupting the delivery
    // with matching manifests. Fail loudly instead (the
    // writeIvfIndex reserved-name lesson).
    require(!df.columns.contains("shuffle_pos"),
      "input already has a shuffle_pos column — rename it before exporting")
    val positioned = df.withColumn("shuffle_pos",
      md5(concat(key.cast("string"), lit("shuffle"))))
    val posHi = conv(substring(col("shuffle_pos"), 1, 15), 16, 10)
      .cast("long")
    val cuts = valueRangeCuts(positioned, posHi, nShards)
    // writeSortedCorpus inlined with the split contract: shard by the
    // 60-bit prefix (integer-interpolated cuts), sort by the full hex.
    positioned.withColumn("shard", rangeShard(posHi, cuts).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    sortedManifestOf(spark.read.parquet(path), "shuffle_pos",
      cols :+ "shuffle_pos")
  }

  /** WebDataset-style TAR-SHARD export — the sample-per-file delivery
    * format sequential training loaders stream (each shard is one tar;
    * each document is one `<key>.txt` member; a loader reads members
    * in order with zero seeks). Membership is the repo's md5 hash
    * bucket (shard-compatible with every other export of the same
    * corpus), member order inside a tar is the stable pseudo-random
    * (md5(key), key) order, and the bytes are fully deterministic
    * ustar: mtime 0, mode 644, uid/gid 0, checksummed headers, data
    * padded to 512-byte blocks, two zero blocks at the end — so a
    * shard's byte size has a CLOSED FORM
    * (Σ (512 + ceil(bytes/512)·512) + 1024) an independent engine
    * computes from text lengths alone, and the returned manifest's
    * `tar_bytes` column is the size of the file ACTUALLY LANDED
    * (filesystem-reported, the vouch-for-what-landed contract): a
    * header-layout, padding, or member-count bug breaks the equality.
    *
    * Write path: one shuffle (repartition on the shard id — a shard's
    * rows land whole in one task) + a task-local sort; each task
    * streams its shards' members straight to `shard-NNNN.tar` through
    * a tmp-file + rename (content is a pure function of the corpus,
    * so a retried or speculated task rewrites identical bytes and
    * last-writer-wins is harmless). Keys must fit tar's 100-char name
    * field (enforced). */
  def writeTarShards(spark: SparkSession, df: DataFrame, key: Column,
                     textCol: Column, nShards: Int, path: String): DataFrame = {
    require(nShards >= 1, "need at least one shard")
    // Overwrite semantics, like every other export writer: a previous
    // export's shard files (and any crashed attempt's tmp litter) must
    // not survive into this delivery's manifest.
    locally {
      val base = new org.apache.hadoop.fs.Path(path)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(base)) fs.listStatus(base).foreach { st =>
        val n = st.getPath.getName
        if (n.matches("shard-\\d+\\.tar") || n.endsWith(".tar.tmp"))
          fs.delete(st.getPath, false)
      }
    }
    import org.apache.spark.sql.Encoders
    val enc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.STRING)
    val rows = df
      .select(key.cast("string").as("__k"), textCol.cast("string").as("__t"))
      .withColumn("__shard", Sampling.hashBucket(col("__k"), nShards).cast("int"))
      .repartition(nShards, col("__shard"))
      .sortWithinPartitions(col("__shard"), md5(col("__k")), col("__k"))
      .select(col("__shard"), col("__k"), col("__t")).as[(Int, String, String)](enc)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    rows.foreachPartition {
      (it: Iterator[(Int, String, String)]) =>
        val conf = confB.value.value
        val base = new org.apache.hadoop.fs.Path(path)
        val fs = base.getFileSystem(conf)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var cur = -1
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        def closeShard(): Unit = if (out != null) {
          out.write(new Array[Byte](1024)) // two terminating zero blocks
          out.close()
          val fin = new org.apache.hadoop.fs.Path(base, f"shard-$cur%04d.tar")
          if (fs.exists(fin)) fs.delete(fin, false)
          fs.rename(tmp, fin)
          out = null
        }
        it.foreach { case (shard, k, t) =>
          if (shard != cur) {
            closeShard()
            cur = shard
            tmp = new org.apache.hadoop.fs.Path(base,
              f".shard-$shard%04d-a$attempt.tar.tmp")
            if (!fs.exists(base)) fs.mkdirs(base)
            out = fs.create(tmp, true)
          }
          val name = s"$k.txt"
          val data =
            if (t == null) Array.emptyByteArray
            else t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.write(tarHeader(name, data.length))
          out.write(data)
          val pad = (512 - data.length % 512) % 512
          if (pad > 0) out.write(new Array[Byte](pad))
        }
        closeShard()
    }
    // Manifest: logical member counts + byte totals from what LANDED.
    val sizes = {
      val base = new org.apache.hadoop.fs.Path(path)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(base).toSeq
        .filter(_.getPath.getName.matches("shard-\\d+\\.tar"))
        .map(st => (st.getPath.getName.stripPrefix("shard-")
          .stripSuffix(".tar").toInt, st.getLen))
    }
    import spark.implicits._
    val sizeDf = sizes.toDF("shard", "tar_bytes")
    df.select(key.cast("string").as("__k"), textCol.cast("string").as("__t"))
      .withColumn("shard", Sampling.hashBucket(col("__k"), nShards).cast("int"))
      .groupBy("shard").agg(count(lit(1)).as("n_files"))
      .join(sizeDf, Seq("shard"), "full_outer")
  }

  /** One deterministic 512-byte ustar header: name, mode 0644,
    * uid/gid 0, mtime 0, checksum over the header with the checksum
    * field spaced (the tar rule), typeflag '0', magic "ustar"+NUL+"00".
    * Numeric fields are zero-padded octal per POSIX. */
  private def tarHeader(name: String, size: Int): Array[Byte] = {
    val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nameB.length <= 100,
      s"tar member name exceeds ustar's 100-byte field: $name")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, h, off, b.length)
    }
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    put(100, "0000644 ")              // mode
    put(108, "0000000 ")              // uid
    put(116, "0000000 ")              // gid
    put(124, f"$size%011o ")          // size, 11-digit octal
    put(136, "00000000000 ")          // mtime 0 — determinism
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum spaced for the sum
    h(156) = '0'                           // typeflag: regular file
    put(257, "ustar")                 // POSIX magic, NUL at 262
    h(262) = 0
    put(263, "00")                    // version
    var sum = 0
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    put(148, f"$sum%06o")             // 6 octal digits + NUL + space
    h(154) = 0
    h(155) = ' '
    h
  }

  /** Streaming export sink — the continuous-ingest last mile: each
    * micro-batch is shard-assigned (same pure md5 bucket as the batch
    * writer, so batch- and stream-exported corpora are shard-compatible;
    * `shard` is a data column) and publishes through
    * [[graft.streaming.EventStream.snapshotSink]], keyed on `key`: a
    * REPLAYED batch publishes an empty-delta version, so at-least-once
    * delivery becomes exactly-once-per-key sink contents, which is what
    * keeps the manifest meaningful under failure/recovery. The sink is a
    * snapshot sink, so it time-travels and the catalog lists it.
    * Validation is the batch path's: `manifestOf` over the sink's latest
    * snapshot vs the logical corpus (StreamingSpec pins agreement across
    * batches + replay). */
  def exportSink(stream: DataFrame, key: String, nShards: Int, path: String,
                 tieBreak: Seq[String], checkpoint: String
                ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(nShards >= 1, "need at least one shard")
    val sharded = stream.withColumn("shard",
      Sampling.hashBucket(col(key), nShards))
    graft.streaming.EventStream.snapshotSink(
      sharded, path, Seq(key), tieBreak, checkpoint)
  }

  // ───────── Z-order layout (multi-dimensional pruning) ─────────

  /** Morton (Z-order) key over N non-negative integer columns: bit `b`
    * of column `i` lands at position `b·N + i` of the key, so sorting
    * by the key clusters rows that are close in EVERY dimension — the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` layout idea expressed as a
    * plain integer column expression (shifts and masks, fully
    * codegen'd, oracle-reproducible). A file layout sorted by one
    * column prunes on that column only; sorted by the Z-key, every
    * parquet footer's min/max stays narrow on ALL interleaved columns
    * at once, so a multi-predicate scan skips files on whichever
    * dimension its filter touches.
    *
    * Callers scale each column into [0, 2^bits) first (range-bucket,
    * quantile bin, or epoch-day — any monotone integer mapping keeps
    * locality); bits beyond `bits` are truncated, negatives are the
    * caller's bug. bits × N ≤ 62 keeps the key in a long. */
  /** Bloom-indexed sharded export — a SECONDARY lookup index for a
    * corpus sharded by something OTHER than the lookup key (content
    * shards, time shards, source shards): each shard directory gets a
    * Bloom filter over its `keyCol` values, and [[readBloomIndexed]]
    * opens only the shards whose filter might contain a requested key.
    * When shard = f(lookup key) the filter is pointless (compute the
    * shard); when it is not — the normal case for "find these doc_ids
    * in a content-sharded 100 TB corpus" — the index turns a full-scan
    * lookup into reads of the few true-positive shards plus an fpp
    * tail.
    *
    * The blooms are built from the data READ BACK off the sink (the
    * manifest discipline: they vouch for what is on disk) and are
    * insertion-order independent (set bits are an OR over per-item
    * hashes), so the index bytes are deterministic for a given key
    * set. Each filter costs ~1.2 bytes/key at fpp 1% — index METADATA,
    * collected through the driver like the IVF centroid files; size
    * `nShards` so a single shard's filter stays driver-small (more
    * shards = smaller filters AND finer pruning).
    *
    * `expectedPerShard` pre-sizes each filter so the key stream inserts
    * in ONE pass (no per-group buffering); undersizing only raises the
    * fpp (more false shard reads), never correctness — the reader
    * re-filters exactly. */
  def writeBloomIndexed(spark: SparkSession, df: DataFrame, shardBy: Column,
                        keyCol: String, nShards: Int, path: String,
                        expectedPerShard: Long, fpp: Double = 0.01): Unit = {
    require(nShards >= 1, "need at least one shard")
    require(expectedPerShard >= 1 && fpp > 0 && fpp < 1, "sane sizing")
    df.withColumn("shard", Sampling.hashBucket(shardBy, nShards))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    import org.apache.spark.sql.Encoders
    import org.apache.spark.util.sketch.BloomFilter
    // The key rides a NULLABLE (boxed) encoder so a NULL key surfaces
    // as a clear contract error INSIDE the one pass the build already
    // makes over the written files — a pre-write df.filter(...).count()
    // guard would re-execute the caller's whole upstream lineage as an
    // extra job (a NULL key can't be point-looked-up either way).
    val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.LONG)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    val blooms = spark.read.parquet(path)
      .select(col("shard").cast("long"), col(keyCol).cast("long"))
      .as[(Long, java.lang.Long)](pairEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (shard, rows) =>
        val bf = BloomFilter.create(expectedPerShard, fpp)
        rows.foreach { r =>
          if (r._2 == null) throw new IllegalArgumentException(
            s"writeBloomIndexed: NULL in key column '$keyCol' — bloom " +
              "point lookup needs non-null keys; filter or impute them first")
          bf.putLong(r._2)
        }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (shard, bos.toByteArray)
      }(outEnc)
      .collect()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(path, "_blooms")
    fs.delete(dir, true); fs.mkdirs(dir)
    blooms.foreach { case (shard, bytes) =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(dir, s"shard-$shard.bloom"), true)
      try out.write(bytes) finally out.close()
    }
  }

  /** Pruned point-lookup against a [[writeBloomIndexed]] sink: test the
    * requested keys against each shard's filter ON THE DRIVER (the
    * filters are the index — tiny vs the data), read ONLY the
    * might-contain shard directories, then re-filter exactly (false
    * positives cost a shard read, never a wrong row). An absent key
    * costs at most its fpp-tail shard reads and returns nothing. */
  def readBloomIndexed(spark: SparkSession, path: String, keyCol: String,
                       keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "no keys to look up")
    import org.apache.spark.util.sketch.BloomFilter
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(path, "_blooms")
    val shards = fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".bloom"))
      .flatMap { p =>
        val in = fs.open(p)
        val bf = try BloomFilter.readFrom(in) finally in.close()
        val shard = p.getName.stripPrefix("shard-").stripSuffix(".bloom").toLong
        if (keys.exists(bf.mightContainLong)) Some(shard) else None
      }
    val empty = spark.read.parquet(path).filter(lit(false)).drop("shard")
    if (shards.isEmpty) empty
    else spark.read.parquet(shards.map(sh => s"$path/shard=$sh"): _*)
      .filter(col(keyCol).isin(keys: _*))
  }

  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "need at least one column")
    require(bits >= 1 && bits * n <= 62,
      s"bits($bits) x cols($n) must fit a 62-bit key")
    cols.zipWithIndex.map { case (c, i) =>
      (0 until bits).map { b =>
        shiftright(c.cast("long"), b).bitwiseAND(1) * lit(1L << (b * n + i))
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /** Write `df` parquet Z-ORDERED on `cols`: range-partition by the
    * Morton key into `shards` files, sort within each — one range
    * shuffle (sampled bounds, the writeSortedCorpus shape), no global
    * single-task sort. The key column is dropped before the write (it
    * is derivable; layouts should not ship derived columns). At 100 TB
    * this is the compaction job you run once so that every subsequent
    * multi-dimensional scan prunes by footer stats instead of reading
    * the corpus. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    bits: Int, shards: Int): Unit = {
    require(shards >= 1, "need at least one shard")
    df.withColumn("__z", zorderKey(cols.map(col), bits))
      .repartitionByRange(shards, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
