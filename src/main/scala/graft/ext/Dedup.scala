package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extension). Exact, MinHash+LSH, SimHash, and n-gram Jaccard — all as
  * declarative plans so Catalyst handles pushdown/AQE, and all keyed so
  * every shuffle is hash-partitioned (no global windows, no driver loops).
  *
  * Hash choice: md5 (codegen'd built-in, identical across engines) rather
  * than murmur3 — minhash compares hashes only by order, so any uniform
  * hash works, and md5's hex form is portable to the DuckDB oracle.
  */
object Dedup {

  /** Exact dedup: deterministic winner (lowest tie-break) per content key.
    * One hash-partitioned shuffle on the key — at 100 TB this is the
    * canonical groupBy-hash dedup, and the md5 key keeps shuffle rows
    * narrow (32 bytes vs full text). */
  def exactByKey(df: DataFrame, key: Column, tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tieBreak.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct word set of a text column. */
  private def wordSet(text: Column): Column = array_distinct(split(lower(text), " "))

  /** k-signature MinHash over the doc's distinct n-gram SHINGLE set:
    * mh_i = min over shingles of md5("i:" || shingle). Hex strings compare
    * lexicographically — minhash needs only order statistics, so string min
    * is valid. Shingles, not unigrams: over a small shared vocabulary the
    * distinct-word sets of long docs converge to the whole vocabulary and
    * every doc collides (measured: 7.6M candidate pairs at sf0.1
    * word-level vs 593 with 3-gram shingles).
    *
    * Shape: explode shingles → groupBy(docKey) with k codegen'd `min`
    * aggregates. The min is map-side combinable, so the shuffle carries one
    * narrow row (docKey + k×32B) per doc — this beats per-row array
    * lambdas (interpreted, and any expression inlined into a lambda is
    * re-evaluated per element) by ~50× wall-clock at sf0.1, and is the
    * shape that survives 100 TB. Docs with fewer than n words keep a row
    * (explode_outer) with null minhashes, matching the SQL oracle's
    * min-over-empty-list = NULL. Returns (docKey, mh0..mh{k-1}).
    */
  def minhashSignature(df: DataFrame, docKey: String, textCol: String,
                       k: Int, n: Int = 3): DataFrame = {
    val exploded = df
      .select(col(docKey), split(lower(col(textCol)), " ").as("__words"))
      .select(col(docKey),
        explode_outer(array_distinct(shinglesOfWords(col("__words"), n))).as("__sh"))
    val aggs = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("__sh")))).as(s"mh$i"))
    exploded.groupBy(col(docKey)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: (docKey, band_id, band_hash) rows, `bands` bands of
    * `rowsPerBand` minhashes each. Docs sharing any band hash are
    * candidate near-dups. */
  def lshBands(sigs: DataFrame, docKey: String, bands: Int, rowsPerBand: Int): DataFrame = {
    require((0 until bands * rowsPerBand).forall(i => sigs.columns.contains(s"mh$i")),
      s"bands*rowsPerBand = ${bands * rowsPerBand} needs mh0..mh${bands * rowsPerBand - 1}")
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band_id"), md5(concat_ws("|", parts: _*)).as("band_hash"))
    }
    sigs.select(col(docKey), explode(array(bandCols: _*)).as("band"))
      .select(col(docKey), col("band.band_id"), col("band.band_hash"))
  }

  /** Candidate near-dup pairs via the band-bucket self-join: one shuffle
    * on (band_id, band_hash); bucket sizes are the skew knob (more bands ×
    * fewer rows/band → looser buckets). Returns distinct (a, b), a < b.
    *
    * `maxBucketSize` is the df-cap escape hatch for HOT buckets: a band
    * hash shared by a large corpus fraction (boilerplate headers, empty
    * docs, a template) makes the self-join Θ(bucket²) — at 30% occupancy
    * that is ~9% of all doc pairs through one reducer. Buckets larger
    * than the cap are dropped BEFORE the join (the size count rides the
    * same bucket-key shuffle as a window — no extra exchange). The recall
    * cost is explicit and bounded: a pair lost with its hot bucket is
    * still found through any OTHER band the two docs share, which is how
    * banding recovers recall by construction; contamination's shingle
    * join uses the same cap for the same reason. Default None preserves
    * exact all-candidates semantics (the oracle contract). */
  def lshCandidatePairs(bands: DataFrame, docKey: String,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val capped = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, "a cap below 2 would drop every pairable bucket")
        val w = Window.partitionBy(col("band_id"), col("band_hash"))
        bands.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= cap).drop("__bn")
      case None => bands
    }
    val l = capped.select(col("band_id"), col("band_hash"), col(docKey).as("a"))
    val r = capped.select(col("band_id"), col("band_hash"), col(docKey).as("b"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Word-set Jaccard similarity between two text columns. */
  def jaccard(a: Column, b: Column): Column = {
    val (sa, sb) = (wordSet(a), wordSet(b))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** n-gram (shingle) array from a words column. IMPORTANT: pass a
    * projected ATTRIBUTE for `words` on hot paths — higher-order lambdas
    * re-evaluate any inlined subtree (e.g. a split()) once per element. */
  def shinglesOfWords(words: Column, n: Int): Column = {
    val count = size(words) - (n - 1)
    // sequence(0, -1) would DESCEND ([0,-1]), so guard the empty case.
    when(count > 0,
      transform(sequence(lit(0), count - 1),
        i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** n-gram (shingle) array of a text column. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfWords(split(lower(text), " "), n)

  /** Shingle-set Jaccard (n-gram near-dup measure). */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val (sa, sb) = (array_distinct(shingles(a, n)), array_distinct(shingles(b, n)))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** SimHash near-dup pairs within a Hamming radius, found WITHOUT an
    * all-pairs comparison, in two stages:
    *
    * 1. SIGNATURE level: band the DISTINCT signatures (cardinality
    *    min(#docs, 2^bits) — near-dup-heavy corpora, the target workload,
    *    collapse hard here since exact dups share a signature). Split each
    *    `bits`-bit signature into `bands` equal slices — by pigeonhole,
    *    two signatures within Hamming distance `bands − 1` share at least
    *    one identical slice — self-join only on (band_id, slice) buckets,
    *    verify `bit_count(xor) <= maxHamming` exactly, THEN distinct: only
    *    surviving sig pairs pay the dedup shuffle, not every candidate.
    * 2. DOC level: expand surviving signature pairs back to document
    *    pairs with two narrow (docKey, sig) joins — cost proportional to
    *    real matches, not candidates.
    *
    * Same candidate→verify shape as MinHash-LSH; requires
    * maxHamming < bands for the recall guarantee (which also makes the
    * bucket join a pure optimization: the output is exactly ALL pairs at
    * hamming <= maxHamming). */
  /** Stage 1 alone — the SIGNATURE-level near-dup pair graph: distinct
    * (sa, sb, hamming) with sa <= sb, INCLUDING the diagonal (every
    * distinct signature self-pairs at hamming 0, which is what links
    * exact-duplicate docs when the graph is clustered). Cardinality is
    * Θ(true signature pairs) — min(#docs, 2^bits) nodes, never doc
    * pairs — so this is the frame to cluster at 100 TB
    * (`dupClustersFromSigPairs`); expand to doc pairs
    * (`simhashDupPairs`) only when the pairs themselves are the ask. */
  def simhashSigPairs(sigs: DataFrame, simhashCol: String,
                      bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    val sliceBits = bits / bands
    val mask = (1L << sliceBits) - 1
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band_id"),
      shiftright(col("__s"), b * sliceBits).bitwiseAND(mask).as("slice")))
    val banded = sigs.select(col(simhashCol).as("__s")).distinct()
      .select(col("__s"), explode(array(bandCols: _*)).as("band"))
      .select(col("__s"), col("band.band_id"), col("band.slice"))
    val l = banded.select(col("band_id"), col("slice"), col("__s").as("__sa"))
    val r = banded.select(col("band_id"), col("slice"), col("__s").as("__sb"))
    // __sa <= __sb keeps one canonical orientation per unordered sig pair
    // INCLUDING the diagonal (equal signatures = hamming 0 pairs).
    l.join(r, Seq("band_id", "slice"))
      .filter(col("__sa") <= col("__sb"))
      .select(col("__sa").as("sa"), col("__sb").as("sb"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  def simhashDupPairs(sigs: DataFrame, docKey: String, simhashCol: String,
                      bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    // PINNED (§2.4): the signature frame feeds FOUR plan branches (the
    // sig-pair distinct plus the l/r band self-join inside it, and the
    // two doc-expansion joins) — without the pin each branch re-runs
    // the word-explode simhash aggregation. One narrow checkpoint
    // (docKey + one long) runs it once. Callers passing an
    // already-pinned frame (q_dup_clusters_sig) pay one extra cheap
    // block scan, never a recompute.
    val s = pin(sigs.select(col(docKey), col(simhashCol)))
    val sigPairs = simhashSigPairs(s, simhashCol, bits, bands, maxHamming)
      .select(col("sa").as("__sa"), col("sb").as("__sb"), col("hamming"))
    val da = s.select(col(docKey).as("a"), col(simhashCol).as("__sa"))
    val db = s.select(col(docKey).as("b"), col(simhashCol).as("__sb"))
    // least/greatest canonicalizes the doc pair (each unordered pair
    // appears once for __sa < __sb, twice for the diagonal → distinct).
    sigPairs.join(da, "__sa").join(db, "__sb")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("hamming"))
      .distinct()
  }

  /** Cluster labels for near-dup docs WITHOUT ever materializing doc
    * pairs — the 100 TB default for simhash dedup. `simhashDupPairs` →
    * `dupClusters` expands each signature component to Θ(docs²) pairs
    * before contracting them right back to components (1.57 M pairs from
    * 5 000 docs at sf0.1); this path clusters the SIGNATURE graph
    * (nodes = distinct signatures, bounded by min(#docs, 2^bits)) and
    * labels docs through one (sig → component) join + a per-component
    * min — cost Θ(docs + signature pairs), independent of cluster sizes.
    *
    * Output contract: IDENTICAL to
    * `dupClusters(simhashDupPairs(sigs, …))` — (node, cluster =
    * component-minimum doc key), one row per doc appearing in some doc
    * pair (pinned in ExtSpec). The equivalence: two docs land in one
    * doc-graph component iff their signatures share a sig-graph
    * component (docs of one signature are linked by its diagonal
    * self-pair; docs of adjacent signatures by the expanded pair), and a
    * doc appears in some pair iff its component holds ≥ 2 docs.
    *
    * `sigPairs` must include the diagonal self-pairs — exactly what
    * `simhashSigPairs` emits. */
  def dupClustersFromSigPairs(sigPairs: DataFrame, sigs: DataFrame,
                              docKey: String, sigCol: String,
                              maxIters: Int = 25): DataFrame = {
    val sigClusters = dupClusters(
      sigPairs.select(col("sa").as("a"), col("sb").as("b")), maxIters)
    val docsWithComp = sigs.select(col(docKey), col(sigCol).as("__s"))
      .join(sigClusters.select(col("node").as("__s"), col("cluster").as("__comp")),
        Seq("__s"))
    // One window over the component key gives the doc-minimum label AND
    // the ≥2-docs membership gate in a single shuffle — a groupBy +
    // join-back would scan (and recompute) the signature aggregation
    // twice.
    val w = Window.partitionBy(col("__comp"))
    docsWithComp
      .withColumn("__minDoc", min(col(docKey)).over(w))
      .withColumn("__nDocs", count(lit(1)).over(w))
      .filter(col("__nDocs") >= 2)
      .select(col(docKey).as("node"), col("__minDoc").as("cluster"))
  }

  /** WIDE SimHash for the corpus sizes where the sizing rule (SCALING.md)
    * wants more than 60 signature bits: the signature is an ARRAY with
    * one element per band, element b an independent sliceBits-bit simhash
    * under band-salted word hashes. The concatenation is a
    * (bands × sliceBits)-bit signature — e.g. 4×32 = 128 bits — with no
    * single-long width cap, pigeonhole still holds (hamming ≤ bands−1 →
    * some band element identical), and the LSH bucket key is simply
    * (band_id, element): no cross-word bit slicing anywhere. Same plan
    * shape as `simhash`: explode words → bands×sliceBits map-side
    * combinable conditional sums, one doc-key shuffle. */
  def simhashWide(df: DataFrame, docKey: String, textCol: String,
                  bands: Int, sliceBits: Int): DataFrame = {
    require(sliceBits >= 1 && sliceBits <= 60, "1..60 bits per band element")
    require(bands >= 1, "need at least one band")
    val exploded = df.select(col(docKey), explode(wordSet(col(textCol))).as("word"))
    val sums = for { b <- 0 until bands; i <- 0 until sliceBits } yield {
      val h = conv(substring(md5(concat(lit(s"$b:"), col("word"))),
        1, (sliceBits + 3) / 4), 16, 10).cast("long")
      sum(when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s${b}_$i")
    }
    val agg = exploded.groupBy(col(docKey)).agg(sums.head, sums.tail: _*)
    val bandSigs = (0 until bands).map(b =>
      (0 until sliceBits).map(i =>
        when(col(s"s${b}_$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _))
    agg.select(col(docKey), array(bandSigs: _*).as("simhash_bands"))
  }

  /** Near-dup pairs over wide banded signatures — the same two-stage
    * signature-level plan as `simhashDupPairs`, with the bucket key
    * taken directly from the band elements and exact hamming =
    * Σ over bands of popcount(xor of elements). */
  def simhashWideDupPairs(sigs: DataFrame, docKey: String, sigCol: String,
                          bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    // Pinned for the same four-branch reason as simhashDupPairs.
    val s = pin(sigs.select(col(docKey), col(sigCol)))
    val sigD = s.select(col(sigCol).as("__s")).distinct()
    val banded = sigD.select(col("__s"),
      posexplode(col("__s")).as(Seq("band_id", "slice")))
    val l = banded.select(col("band_id"), col("slice"), col("__s").as("__sa"))
    val r = banded.select(col("band_id"), col("slice"), col("__s").as("__sb"))
    val hamming = (0 until bands).map(b =>
      bit_count(element_at(col("__sa"), b + 1)
        .bitwiseXOR(element_at(col("__sb"), b + 1)))).reduce(_ + _)
    val sigPairs = l.join(r, Seq("band_id", "slice"))
      .filter(col("__sa") <= col("__sb"))
      .select(col("__sa"), col("__sb"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val da = s.select(col(docKey).as("a"), col(sigCol).as("__sa"))
    val db = s.select(col(docKey).as("b"), col(sigCol).as("__sb"))
    sigPairs.join(da, "__sa").join(db, "__sb")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("hamming"))
      .distinct()
  }

  /** The full MinHash candidate→verify chain: signatures → LSH bands →
    * bucket candidates → exact word-set Jaccard ≥ `threshold`, returning
    * verified (a, b) pairs with a < b. One definition shared by every
    * consumer (q_dedup_near, the curation pipeline) so the
    * threshold/banding semantics can't drift between them. */
  /** The ONE verify tail every candidate generator feeds: join (a, b)
    * candidate pairs back to their texts and keep word-set Jaccard ≥
    * `threshold` (rounded to 6dp — the cross-engine convention). The
    * rounding and jaccard definition live HERE only, so the within-table
    * and cross-table dedup paths cannot drift apart. */
  private def verifyPairsByJaccard(cand: DataFrame, aDocs: DataFrame,
                                   bDocs: DataFrame, docKey: String,
                                   textCol: String, threshold: Double): DataFrame = {
    val da = aDocs.select(col(docKey).as("a"), col(textCol).as("__ta"))
    val db = bDocs.select(col(docKey).as("b"), col(textCol).as("__tb"))
    cand.join(da, "a").join(db, "b")
      .filter(round(jaccard(col("__ta"), col("__tb")), 6) >= threshold)
      .select("a", "b")
  }

  def verifiedNearDupPairs(docs: DataFrame, docKey: String, textCol: String,
                           k: Int, bands: Int, rowsPerBand: Int,
                           threshold: Double): DataFrame = {
    // PINNED signatures (§2.4): the band self-join inside
    // lshCandidatePairs reads its input twice (l/r branches — the
    // alias rename de-canonicalizes the subtree, so exchange reuse
    // never saves it), which re-ran the WHOLE shingle-explode +
    // k-way md5-min aggregation — the chain's most expensive pass —
    // once per branch. One narrow materialization (docKey + k×32 B)
    // runs it once; both branches then scan checkpoint blocks.
    val sigs = pin(minhashSignature(docs, docKey, textCol, k))
    val cand = lshCandidatePairs(lshBands(sigs, docKey, bands, rowsPerBand), docKey)
    verifyPairsByJaccard(cand, docs, docs, docKey, textCol, threshold)
  }

  /** Edit-distance near-dup PAIRS — the verify metric for short or
    * templated fields (titles, headers, doc prefixes) where word-set
    * Jaccard is too coarse: one word swapped in a 5-word title moves
    * Jaccard by ~30% but is 1-2 edits. Same banded candidate generator
    * as every other dedup path (recall is the generator's — the
    * standard candidate→verify contract); the verify tail is BOUNDED
    * Levenshtein: the threshold form short-circuits at
    * O(len·maxDist) per pair instead of O(len²), which is what makes a
    * character metric affordable inside buckets at scale. */
  def editDistanceDupPairs(docs: DataFrame, docKey: String, textCol: String,
                           k: Int, bands: Int, rowsPerBand: Int,
                           maxDist: Int): DataFrame = {
    // Deliberately NOT pinned (unlike verifiedNearDupPairs): measured
    // both ways at sf0.1 — this chain's short verify tail lets AQE's
    // exchange reuse carry the shared aggregation, and the eager pin's
    // blocking materialization read ~1.4x slower (paired isolated
    // bench, r22).
    val cand = lshCandidatePairs(
      lshBands(minhashSignature(docs, docKey, textCol, k),
        docKey, bands, rowsPerBand), docKey)
    val da = docs.select(col(docKey).as("a"), col(textCol).as("__ta"))
    val db = docs.select(col(docKey).as("b"), col(textCol).as("__tb"))
    cand.join(da, "a").join(db, "b")
      .filter(levenshtein(col("__ta"), col("__tb"), maxDist) >= 0)
      .select("a", "b")
  }

  /** Greedy near-dup REMOVAL — the cleaning step the candidate→verify
    * pipeline feeds: keep a document iff it is not the higher-id member of
    * any verified near-dup pair (every pair (a, b), a < b, evicts b; a
    * survives unless some smaller neighbor evicts it too). One narrow
    * left-anti join on the doc key. Deliberately NOT transitive-closure
    * clustering (connected components = an iterative graph job); greedy
    * eviction needs no iteration, removes at least one of every dup pair,
    * and is the standard single-pass policy at corpus scale. */
  def removeNearDups(docs: DataFrame, pairs: DataFrame, docKey: String): DataFrame =
    docs.join(pairs.select(col("b").as(docKey)).distinct(), Seq(docKey), "left_anti")

  /** Quality-aware cluster survivor selection: keep, per duplicate
    * cluster, the member with the HIGHEST `score` (ties to the smallest
    * key — a total deterministic order), plus every unclustered doc.
    * Min-id eviction (`dupClusters` + drop non-minimum) is the cheap
    * default, but it keeps an arbitrary copy; real curation keeps the
    * best one — the boilerplate-free, well-formed variant — and that
    * choice measurably changes what a model trains on.
    *
    * Shape: `clusters` (node, cluster) is the near-dup family's bounded
    * output — orders smaller than the corpus. Scores are computed only
    * for CLUSTERED docs (inner join with the cluster table prunes the
    * corpus scan to key + score inputs), the per-cluster argmax is ONE
    * window pass over the bounded cluster table —
    * `row_number` ordered (score desc NULLS LAST, key asc), so the
    * winner is the max-score member, ties to the smallest key under the
    * key type's OWN ordering (a STRING docKey tie-breaks correctly; an
    * all-null-score cluster still keeps its min-key member because
    * nulls sort last uniformly) — and the corpus pays exactly one
    * anti-join against the evicted-key set. `score` must be
    * deterministic for the survivor set to be one (engine-reproducible)
    * answer — qualityScore's single-divide doubles qualify. */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame, docKey: String,
                         score: Column): DataFrame = {
    val members = clusters.select(col("node").as(docKey), col("cluster").as("__cl"))
    // One row per (key, cluster) BEFORE ranking: if `docs` carries
    // duplicate docKey rows, the winner's key would otherwise reappear
    // at rn=2 and land in the evicted set — the anti-join would then
    // remove the whole cluster, winner included. max(score) keeps the
    // reduction deterministic (no arbitrary dropDuplicates pick); the
    // extra exchange is over the bounded cluster-membership table.
    val scored = docs.select(col(docKey), score.as("__score"))
      .join(members, Seq(docKey))
      .groupBy(col(docKey), col("__cl"))
      .agg(max(col("__score")).as("__score"))
    val w = Window.partitionBy(col("__cl"))
      .orderBy(col("__score").desc_nulls_last, col(docKey).asc)
    val evicted = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col(docKey))
    docs.join(evicted, Seq(docKey), "left_anti")
  }

  /** Incremental dedup: keep only the `batch` docs that duplicate
    * NOTHING in `ref` — the production shape for snapshot-over-snapshot
    * curation, where each new crawl dedups against the already-curated
    * corpus instead of re-clustering everything. Asymmetric by design:
    * `ref` is never filtered, and batch-internal duplicates are NOT
    * removed here (run `removeNearDups`/`dupClusters` within the batch
    * for that).
    *
    * Two passes, cheap one first:
    *  1. exact — anti-join on the 32-byte content hash (narrow keys;
    *     ref's hash set is typically broadcastable even when ref's TEXT
    *     is huge);
    *  2. near — cross-table LSH: band both sides' minhash signatures,
    *     equi-join batch bands against ref bands (candidates only
    *     within buckets, never batch × ref), verify word-set Jaccard ≥
    *     `threshold` on the candidates, anti-join the flagged keys.
    * Pass 2 only signs the exact-pass survivors, so re-submitting an
    * unchanged crawl costs one narrow anti-join plus signatures for
    * nothing. */
  def dedupAgainstReference(batch: DataFrame, ref: DataFrame, docKey: String,
                            textCol: String, k: Int, bands: Int,
                            rowsPerBand: Int, threshold: Double,
                            expectedBatchKeys: Long = DefaultExpectedBatchKeys): DataFrame =
    dedupAgainstReferenceWithBands(batch, ref,
      lshBands(minhashSignature(ref, docKey, textCol, k), docKey, bands, rowsPerBand),
      docKey, textCol, k, bands, rowsPerBand, threshold, expectedBatchKeys)

  /** `dedupAgainstReference` with the reference's band table SUPPLIED
    * instead of recomputed — the incremental-maintenance form: a caller
    * that persists the accepted corpus's bands (the streaming near-dup
    * sink, a nightly curation job) signs each accepted doc ONCE and
    * re-reads the band table per batch, instead of re-signing the whole
    * curated corpus on every arrival. `refBands` must be the
    * `lshBands(minhashSignature(ref, k), bands, rowsPerBand)` table of
    * exactly `ref` under the same (k, bands, rowsPerBand). */
  /** Sentinel for the exact pass's batch-key bloom sizing: ≤ 0 means
    * COUNT the batch first (one extra narrow job over the small side —
    * the batch is the incoming slice, so the count is cheap, and the
    * resulting right-sized filter keeps the probe's plan literal at
    * ~1 byte/key instead of a fixed multi-MB constant shipped with
    * every task). Callers that know their batch scale pass it
    * explicitly to skip the count; underestimating costs only fpp —
    * extra corpus keys into the exact anti-join tail — never wrong
    * answers. */
  val DefaultExpectedBatchKeys: Long = 0L

  def dedupAgainstReferenceWithBands(batch: DataFrame, ref: DataFrame,
                                     refBands: DataFrame, docKey: String,
                                     textCol: String, k: Int, bands: Int,
                                     rowsPerBand: Int, threshold: Double,
                                     expectedBatchKeys: Long = DefaultExpectedBatchKeys
                                    ): DataFrame = {
    // The exact-pass survivors feed THREE branches (signatures, the
    // verify join, the final anti-join), so they are materialized once:
    // without it, each branch re-runs the batch scan + anti-join, and
    // per-branch column pruning de-canonicalizes the shared subtree so
    // exchange reuse cannot save it (the repo's round-4 Catalyst
    // lesson). Materializing the batch is the right asymmetry — it is
    // the incoming crawl slice, orders smaller than the curated corpus.
    // Eager localCheckpoint, not .cache(): a cache here had no release
    // point (the consuming action happens in the caller, so the
    // InMemoryRelation leaked for the session and could silently
    // substitute into any later plan sharing the subtree); checkpoint
    // blocks belong to the returned frame's RDD lineage and are freed
    // by the ContextCleaner once the result is dropped.
    val fresh = freshByContent(batch, ref, textCol, expectedBatchKeys)
      .localCheckpoint()
    val bBands = lshBands(minhashSignature(fresh, docKey, textCol, k),
        docKey, bands, rowsPerBand)
      .select(col(docKey).as("b"), col("band_id"), col("band_hash"))
    val rBands = refBands
      .select(col(docKey).as("a"), col("band_id"), col("band_hash"))
    val cand = bBands.join(rBands, Seq("band_id", "band_hash"))
      .select("b", "a").distinct()
    val flagged = verifyPairsByJaccard(cand, ref, fresh, docKey, textCol, threshold)
      .select(col("b").as(docKey)).distinct()
    fresh.join(flagged, Seq(docKey), "left_anti")
  }

  /** The exact incremental pass on its own: keep only the `batch` rows
    * whose CONTENT fingerprint (md5 of `textCol`) matches nothing in
    * `ref` — the replay/exactly-once-per-content primitive (the
    * streaming decontamination sink's guard, the cheap first pass of
    * [[dedupAgainstReferenceWithBands]]). */
  def freshByContent(batch: DataFrame, ref: DataFrame, textCol: String,
                     expectedBatchKeys: Long = DefaultExpectedBatchKeys
                    ): DataFrame =
    freshByFingerprint(batch, ref.select(md5(col(textCol)).as("__fp")),
      "__fp", textCol, expectedBatchKeys)

  /** [[freshByContent]] against PRECOMPUTED reference fingerprints
    * (md5-of-content, e.g. a stored `__fp` column): the corpus side
    * reads 32-byte hashes instead of re-hashing full text — on a
    * columnar sink that is a column-pruned scan of ~32 B/doc, the
    * difference between a replay guard that re-reads a 100 TB text
    * column every micro-batch and one that reads the corpus's key
    * column only. Same bloom-composed shape and exactly-once-per-content
    * contract as [[freshByContent]].
    *
    * `batchFp` overrides the batch-side fingerprint expression (default
    * `md5(textCol)`) — it must be the SAME function the reference
    * fingerprints were stored with, or the guard silently stops
    * recognizing landed content. A null-producing fingerprint (md5 of
    * NULL text) can never match and re-admits its row every replay —
    * callers with nullable text pass a null-safe expression on both
    * sides (the decontamination sink does). */
  def freshByFingerprint(batch: DataFrame, refFp: DataFrame, fpCol: String,
                         textCol: String,
                         expectedBatchKeys: Long = DefaultExpectedBatchKeys,
                         batchFp: Option[Column] = None
                        ): DataFrame = {
    // Exact pass, bloom-composed (the 100 TB incremental shape): build
    // a constant-size bloom over the BATCH's content keys (the small
    // side — one mergeable aggregate, collected like any sketch), then
    // stream the corpus keys through `might_contain` AT THE SCAN — a
    // map-only codegen'd filter, so the curated side pays no distinct
    // and no shuffle per batch (the previous plan re-distincted the
    // full corpus keys every arrival — a full-corpus shuffle per
    // increment). Survivors ≈ true matches (≤ |batch|) plus
    // fpp × |corpus keys|; the exact anti-join on them restores
    // exactly the unreduced semantics: a false-positive survivor is a
    // REAL corpus key that matches no batch key, so it evicts nothing
    // (no false negatives exist by construction).
    // In the count-the-batch sizing path the batch feeds THREE jobs
    // before the result materializes (the sizing count, the bloom
    // aggregate, the anti-join) — materialize it once up front so the
    // upstream batch scan/transform runs once, not three times; skipped
    // when the caller supplied the size (then only bloom + anti-join
    // read it, and the caller's own materialization — the near-dup
    // composition checkpoints the result — bounds the recompute at two
    // narrow passes).
    val batchKeyed = {
      val keyed = batch.withColumn("__ck",
        batchFp.getOrElse(md5(col(textCol))))
      if (expectedBatchKeys > 0) keyed else keyed.localCheckpoint()
    }
    val bloomItems =
      if (expectedBatchKeys > 0) expectedBatchKeys
      else math.max(batchKeyed.count(), 1L)
    val bloom = graft.ops.BloomJoin.keyBloom(batchKeyed, col("__ck"),
      bloomItems)
    val survivors = refFp.select(col(fpCol).as("__ck"))
      .filter(graft.ops.BloomJoin.mightContain(bloom, col("__ck")))
    // `ref` is deliberately NOT materialized: at 100 TB the curated
    // side must stream from storage, column-pruned per pass (hashes,
    // then signatures, then candidate texts).
    batchKeyed.join(survivors, Seq("__ck"), "left_anti").drop("__ck")
  }

  /** Corpus-wide paragraph-level exact dedup — the sub-document shape
    * (boilerplate headers, repeated license blocks, templated intros
    * duplicate across documents that are NOT duplicates of each other).
    * Split every doc's text on `sep`, keep each distinct paragraph's
    * FIRST occurrence only — first = minimum (docKey, position), a total
    * deterministic order — and reassemble surviving paragraphs in their
    * original in-document order. A document whose every paragraph
    * occurred earlier somewhere else disappears (the empty shell carries
    * no training signal). Returns (docKey, textCol) only: reassembly is
    * an aggregation, so sibling columns would need their own agg
    * semantics — join the result back on the key to re-attach them.
    *
    * Shape at 100 TB — three hash shuffles, all skew-tolerant:
    *  1. first-occurrence agg keyed on the paragraph's md5: min(struct)
    *     is map-side combinable, so a boilerplate paragraph duplicated
    *     a billion times reduces inside each task before it shuffles
    *     (the window-over-hash alternative would sort that key's entire
    *     billion-row partition in one task);
    *  2. keeper semi-join keyed (docKey, position) — uniform by
    *     construction, paragraph skew cannot concentrate it;
    *  3. reassembly groupBy docKey — bounded by document size.
    * Shuffles 2 and 3 carry paragraph text; 1 carries 32-byte keys. */
  def dedupParagraphs(docs: DataFrame, docKey: String, textCol: String,
                      sep: String): DataFrame = {
    val paras = docs.select(col(docKey),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__idx", "__para")))
    val first = paras
      .groupBy(md5(col("__para")).as("__h"))
      .agg(min(struct(col(docKey).as("__d"), col("__idx").as("__i"))).as("__k"))
      .select(col("__k.__d").as(docKey), col("__k.__i").as("__idx"))
    paras.join(first, Seq(docKey, "__idx"), "left_semi")
      .groupBy(col(docKey))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__idx"), col("__para")))),
          x => x.getField("__para")), sep).as(textCol))
  }

  /** Connected components over the verified near-dup pair graph: every
    * document that appears in a pair gets a `cluster` label = the MINIMUM
    * doc key reachable through any chain of pairs. Greedy pair eviction
    * (`removeNearDups`) removes at least one of every pair but can
    * over-evict chains (a–b, b–c evicts b AND c; the cluster view keeps
    * exactly one representative per transitive group) — cluster-level
    * assignment is what "keep one copy per duplicate CLUSTER" means.
    *
    * Algorithm: min-label propagation — labels start as each node's own
    * key; each hop every node takes the min of its own and its
    * neighbors' labels; fixpoint = component minimum. Each hop is one
    * (node-key) join + one min aggregate — fully distributed, no driver
    * data. Hops needed = graph diameter, and near-dup clusters are
    * shallow (stars/cliques around a few templates), so the loop
    * converges in a handful of rounds; `maxIters` bounds the worst case
    * and failing loudly beats silently wrong labels. The driver-side
    * convergence probe reads ONE number per round (sum of labels,
    * monotone non-increasing, exact decimal).
    *
    * Lineage control is what makes the loop viable: `hop` embeds the
    * incoming label plan TWICE (join branch + union branch), so without
    * truncation the LOGICAL plan doubles per round — with the whole
    * candidate-generation subtree multiplied into every copy — and
    * Catalyst re-optimization, not the data, becomes the per-round cost
    * (measured ~1.5 s/round at sf0.1 on a 563-node graph; ~0.2 s with
    * truncation). By default `localCheckpoint` materializes each round
    * (and the edge set once) to executor-stored blocks and replaces the
    * plan with a LogicalRDD scan — fast, but executor loss drops blocks
    * and kills the JOB (local checkpoints sever the lineage needed to
    * recompute). Long cluster jobs set [[ReliableCheckpointConf]]=true
    * to route every round's truncation through RELIABLE `checkpoint()`
    * into [[ReliableCheckpointDirConf]] (or a dir already set via
    * `SparkContext.setCheckpointDir`): rounds persist to the checkpoint
    * filesystem and survive any executor, at the standard cost of the
    * checkpoint write (plus Spark's recompute-on-write for non-eager
    * checkpoints). Same plans, same results — ExtSpec runs the loops
    * under both modes.
    *
    * Output: (node, cluster), one row per distinct doc appearing in
    * `pairs`; singleton docs (in no pair) are their own implicit cluster
    * and are not emitted. */
  /** Conf keys for the iterative loops' lineage truncation (see above):
    * set `graft.checkpoint.reliable=true` (runtime conf) to use reliable
    * `checkpoint()`; the dir comes from `graft.checkpoint.dir` or an
    * already-configured `SparkContext.setCheckpointDir`. */
  val ReliableCheckpointConf = "graft.checkpoint.reliable"
  val ReliableCheckpointDirConf = "graft.checkpoint.dir"

  /** One round's lineage truncation: local (executor blocks) by
    * default, reliable (checkpoint-FS files) under the conf above.
    * Checkpoint-dir files are reclaimed by the cluster's dir hygiene
    * (or `spark.cleaner.referenceTracking.cleanCheckpoints`), not by
    * [[freeCheckpoint]] — which stays correct in both modes (reliable
    * plans have no storage blocks to free). */
  /** Public conf-routed PIN for query-level "read this subtree twice"
    * materialization: local checkpoint (executor blocks — fast, but an
    * executor loss loses blocks) by default, reliable `checkpoint()`
    * (checkpoint-FS files) when `graft.checkpoint.reliable` is set —
    * the same switch the CC rounds use. Query code should call this,
    * never raw `.localCheckpoint()`, so one cluster conf makes every
    * pin in the library executor-loss-safe. */
  def pin(df: DataFrame): DataFrame = truncateLineage(df, eager = true)

  private def truncateLineage(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableCheckpointConf).exists(_.toBoolean)
    if (!reliable) df.localCheckpoint(eager)
    else {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          spark.conf.getOption(ReliableCheckpointDirConf).getOrElse(
            throw new IllegalArgumentException(
              s"$ReliableCheckpointConf=true but no checkpoint dir: set " +
                s"$ReliableCheckpointDirConf or SparkContext.setCheckpointDir")))
      df.checkpoint(eager)
    }
  }

  /** Free a localCheckpoint'ed frame's blocks NOW. `Dataset.unpersist`
    * only clears CacheManager entries, and a local checkpoint persists
    * its RDD directly — without this, each round's blocks would linger
    * until the driver GC'd the reference and ContextCleaner reaped it
    * (nondeterministic; 25 rounds of lingering label sets on a big
    * graph is real executor storage). Falls back to that GC path if the
    * plan isn't the expected LogicalRDD scan. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  def dupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Both edge directions from ONE pass over `pairs` (§2.4): the old
    // two-branch union embedded the whole (possibly expensive
    // candidate→verify) pair plan twice — the swap de-canonicalizes
    // the branches, so exchange reuse never deduped them. explode is
    // map-side; same rows, same distinct.
    val edges = truncateLineage(
      pairs.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .distinct(), eager = true)
    // Lazy: the initial checksum probe below materializes the seed labels
    // in the same job.
    var labels = truncateLineage(edges.select(col("src").as("node")).distinct()
      .withColumn("cluster", col("node")), eager = false)
    // sum over ZERO rows is NULL — an empty pair graph (perfectly clean
    // corpus) is already converged, not an error.
    var checksum = labels.agg(sum(col("cluster").cast(DecimalType(38, 0))))
      .head().getDecimal(0)
    var converged = checksum == null
    var it = 0
    def hop(l: DataFrame): DataFrame = {
      val prop = l.join(edges, l("node") === edges("src"))
        .select(col("dst").as("node"), col("cluster"))
      l.unionByName(prop).groupBy("node").agg(min("cluster").as("cluster"))
    }
    try {
      while (!converged && it < maxIters) {
        // ONE hop per probe. Measured against a two-hops-per-probe
        // variant (halve the driver round-trips): the extra per-round
        // caching and the overshoot hops cost MORE than the probes saved
        // on these shallow graphs — keep the simple loop.
        // Lazy checkpoint: the probe action below materializes the round's
        // blocks AND reads the sum in ONE job (eager would spend a
        // separate job per round on materialization alone).
        val next = truncateLineage(hop(labels), eager = false)
        val nextSum = next.agg(sum(col("cluster").cast(DecimalType(38, 0))))
          .head().getDecimal(0)
        converged = nextSum.compareTo(checksum) == 0
        freeCheckpoint(labels)
        labels = next
        checksum = nextSum
        it += 1
      }
      require(converged, s"label propagation did not converge in $maxIters rounds " +
        "— raise maxIters (diameter exceeds the bound)")
    } finally if (!converged) { freeCheckpoint(labels); freeCheckpoint(edges) }
    freeCheckpoint(edges)
    // Returned backed by its checkpoint blocks (a LogicalRDD scan, no
    // lineage back through the rounds); they are freed when the frame is
    // garbage-collected, or eagerly via Dedup.freeClusters.
    labels
  }

  /** Eagerly release a `dupClusters` result's checkpoint blocks once the
    * caller has consumed it. */
  def freeClusters(clusters: DataFrame): Unit = freeCheckpoint(clusters)

  /** Connected components by alternating star contraction (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — same output contract as
    * `dupClusters` (one (node, cluster=component minimum) row per node
    * appearing in `pairs`), but rounds grow with log(n), not graph
    * DIAMETER. Min-label propagation needs diameter hops, so a drift
    * chain of templated documents deeper than `maxIters` aborts it;
    * star contraction halves long paths every round, so 25 rounds cover
    * any graph that fits on hardware. Use this for graphs that may be
    * deep; min-label (`dupClusters`) probes one aggregate fewer per
    * round and wins on the shallow star/clique graphs near-dup corpora
    * usually produce.
    *
    * Each operation rewires edges toward smaller ids:
    *  - large-star, from each node u: every LARGER neighbor v connects
    *    to m(u) = min(Γ(u) ∪ {u});
    *  - small-star, from each node u: its smaller neighbors N (if any)
    *    and u itself connect to m = min(N).
    * Both emit canonical (min, max) edges, keep every edge's endpoint
    * reachable, and only shrink: per round one node-key shuffle + a
    * distinct per op. Convergence probe (exact, one row): the pair
    * (edge count, Σ endpoint sums in DECIMAL). Both ops are
    * non-increasing in each component and stall only at a joint
    * fixpoint, where every component is a star centered at its minimum.
    * Per-round `localCheckpoint` for the same lineage reason as
    * `dupClusters` (the edge plan would otherwise nest per round). */
  def dupClustersStar(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def probe(e: DataFrame): (Long, java.math.BigDecimal) = {
      // Cast each endpoint BEFORE adding: a Long a+b can wrap for ids
      // near the 64-bit range (hash-derived keys), voiding the
      // monotone-sum argument the convergence check rests on.
      val r = e.agg(count(lit(1)),
        sum(col("a").cast(DecimalType(38, 0))
          + col("b").cast(DecimalType(38, 0)))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      // Both neighbor directions from one explode pass; the join's left
      // side is `e` itself (canonical a < b means dir.filter(v > u)
      // was exactly the (a→u, b→v) branch) — one evaluation per round
      // where the union+filter shape paid three.
      val dir = e.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("__d"))
        .select(col("__d.u").as("u"), col("__d.v").as("v"))
      val m = dir.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      e.select(col("a").as("u"), col("b").as("v")).join(m, "u")
        .select(col("m").as("a"), col("v").as("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // Canonical edges already have a < b: N(b) ∋ a, so the "larger
      // endpoint's view" is the edge list itself. Both output classes
      // ((m,a) when a≠m, plus (m,b)) emit from ONE pass over the
      // m-join — the two-branch union ran the join twice and paid an
      // extra inner distinct.
      val m = e.groupBy("b").agg(min(col("a")).as("m"))
      e.join(m, "b")
        .select(explode(when(col("a") =!= col("m"),
            array(struct(col("m").as("a"), col("a").as("b")),
              struct(col("m").as("a"), col("b").as("b"))))
          .otherwise(array(
            struct(col("m").as("a"), col("b").as("b"))))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .distinct()
    }
    // Self-pairs carry no connectivity but their node must still get a
    // row (the dupClusters contract: one row per node APPEARING in
    // pairs) — split them out and fold them back in at labeling time.
    // ONE evaluation of the (possibly expensive) pair plan (§2.4):
    // canonicalize + distinct once, pinned; self-pairs and real edges
    // are filters over the checkpoint blocks — the old derivation
    // re-ran the whole candidate→verify chain a second time when
    // selfNodes materialized at labeling.
    val base = truncateLineage(
      pairs.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct(), eager = true)
    val selfNodes = base.filter(col("a") === col("b"))
      .select(col("a").as("node"))
    var edges = truncateLineage(
      base.filter(col("a") =!= col("b")), eager = false)
    var state = probe(edges)
    var converged = state._1 == 0L
    var round = 0
    try {
      while (!converged && round < maxRounds) {
        val next = truncateLineage(smallStar(largeStar(edges)), eager = false)
        val nextState = probe(next)
        // Count and endpoint-sum are both non-increasing under each star
        // op, so an unchanged pair across a full round means BOTH ops hit
        // their fixpoint: a star forest centered at component minima.
        converged = nextState == state
        freeCheckpoint(edges)
        edges = next
        state = nextState
        round += 1
      }
      require(converged || state._1 == 0L,
        s"star contraction did not converge in $maxRounds rounds")
      // Star edges are (center, member); centers label themselves, and
      // self-pair-only nodes label themselves too (the groupBy-min keeps
      // the component label when such a node also has real edges).
      val labels = truncateLineage(
        edges.select(col("b").as("node"), col("a").as("cluster"))
          .unionByName(edges.select(col("a").as("node"), col("a").as("cluster")))
          .unionByName(selfNodes.select(col("node"), col("node").as("cluster")))
          .groupBy("node").agg(min("cluster").as("cluster")), eager = true)
      labels
    } finally { freeCheckpoint(edges); freeCheckpoint(base) }
  }

  /** Cluster-level dedup: keep every document that is NOT a non-minimum
    * member of some near-dup cluster — exactly one survivor (the minimum
    * key) per transitive duplicate group, plus all singletons. One
    * left-anti join against the eviction list. */
  def keepClusterRepresentatives(docs: DataFrame, pairs: DataFrame,
                                 docKey: String, maxIters: Int = 25): DataFrame = {
    val evict = dupClusters(pairs, maxIters).filter(col("cluster") =!= col("node"))
      .select(col("node").as(docKey))
    docs.join(evict, Seq(docKey), "left_anti")
  }

  /** PageRank-style centrality over an undirected PAIR graph (the
    * verified near-dup / winnow / containment pair tables this module
    * produces): fixed `iters` power-iteration rounds of
    * pr' = (1−d)/N + d·Σ_neighbors pr(u)/deg(u), restricted to nodes
    * that appear in some pair (singletons have nothing to rank
    * against). The use: pick each duplicate FAMILY's most central
    * member as its representative — the doc most similar to the rest
    * of its family — instead of [[keepClusterRepresentatives]]'
    * arbitrary minimum key.
    *
    * Scale shape: per round, one join of the rank table to the edge
    * list + one combine-enabled agg on the destination — the standard
    * distributed power iteration; rounds are FIXED (no driver
    * convergence probe), lineage pinned per round. Numeric contract:
    * each contribution rounds to 12dp then sums as an exact
    * DECIMAL(20,12) (order-independent across any partitioning — the
    * dsum discipline), each new rank rounds to 12dp, the published
    * rank to 6dp; N comes from one scalar count. An oracle unrolls
    * the same `iters` rounds with identical rounding. */
  def pairCentrality(pairs: DataFrame, aCol: String, bCol: String,
                     iters: Int = 3, damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(iters >= 1 && iters <= 20, "1..20 fixed rounds")
    require(damping > 0 && damping < 1, "0 < damping < 1")
    // Both directions from ONE pass over `pairs` (same §2.4 reason as
    // dupClusters — the two-branch union ran the pair plan twice
    // before the pin could help).
    val edges = pin(
      pairs.select(explode(array(
          struct(col(aCol).as("u"), col(bCol).as("v")),
          struct(col(bCol).as("u"), col(aCol).as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
        .distinct())
    try {
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val n = deg.count()
      // Pinned so the empty frame materializes BEFORE the finally frees
      // the edge blocks it derives from (a lazy escapee would read
      // unpersisted checkpoint blocks).
      if (n == 0) return pin(deg.select(col("u"), col("deg"),
        lit(0.0).as("centrality")).limit(0))
      var pr = deg.withColumn("pr", lit(1.0 / n))
      for (_ <- 1 to iters) {
        val contrib = edges.join(pr, "u")
          .select(col("v"), round(col("pr") / col("deg"), 12).as("c"))
        pr = pin(contrib.groupBy(col("v").as("u"))
          .agg(sum(col("c").cast(DecimalType(20, 12))).as("s"))
          .join(deg, "u")
          .select(col("u"), col("deg"),
            round(lit((1 - damping) / n) +
              lit(damping) * col("s").cast(DoubleType), 12).as("pr")))
      }
      pr.select(col("u"), col("deg"), round(col("pr"), 6).as("centrality"))
    } finally freeCheckpoint(edges)
  }

  /** Per-node TRIANGLE counts over an undirected pair graph (pairs
    * canonical a < b): how cohesive each duplicate family is — a node in
    * many triangles sits in a clique-like boilerplate family (safe to
    * collapse to one representative); a triangle-free chain is the
    * over-eviction hazard `dupClusters` documents. The standard
    * distributed shape: one wedge join (b is the pivot; cost Σ deg²,
    * the graph's wedge count — bounded for dedup graphs because
    * verified-pair degrees are) + one semi-join closing each wedge
    * against the edge list, then an explode + combine-enabled count per
    * corner. Each triangle a<b<c is generated exactly once. On a
    * power-law graph (this op outgrowing dup graphs), orient edges
    * low-degree → high-degree before the wedge join to drop the bound
    * from Σ deg² to O(m^1.5) — the standard mitigation, not needed
    * while degrees are verification-bounded. */
  def pairTriangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Pinned (NOT freed here — the returned plan reads these blocks;
    // they release with the result frame): the edge list feeds all
    // three join arms, and without the pin each arm re-derives the
    // upstream pair computation. Edges are canonicalized a < b HERE
    // (least/greatest, the simhashDupPairs idiom) rather than assumed:
    // a caller passing both edge directions would otherwise generate
    // each triangle several times and silently inflate per-node counts.
    val e = pin(pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tri = wedges.join(
      e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** SimHash over the word multiset: `bits`-bit signature where bit i is
    * the sign of the sum over words of (±1 by word-hash bit i). Expressed
    * as explode → groupBy(doc) with `bits` conditional-sum aggregates —
    * one map-side-combinable shuffle on the doc key. The word hash takes
    * exactly ⌈bits/4⌉ md5 hex digits, so EVERY signature bit is backed by
    * hash entropy as `bits` grows with the corpus (SCALING.md sizing
    * rule); one long caps the signature at 60 bits — wider signatures
    * split across two columns, same construction. */
  def simhash(df: DataFrame, docKey: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60, "1..60 bits fit a long signature")
    val h = conv(substring(md5(col("word")), 1, (bits + 3) / 4), 16, 10).cast("long")
    val exploded = df
      .select(col(docKey), explode(wordSet(col(textCol))).as("word"))
      .withColumn("h", h)
    val bitSums = (0 until bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$i"))
    val agg = exploded.groupBy(col(docKey)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col(docKey), sig.as("simhash"))
  }

  // ───────── substring-level (span) dedup — the Lee et al. 2022 shape ─────────

  /** Every word n-gram instance of every document: one row per
    * (doc, 1-based word position), `__h` = md5 of the n words joined by a
    * single space. The distributed stand-in for a corpus suffix array
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": repeated spans ≥ some token length are duplicated text even
    * between documents that are NOT near-dups of each other — license
    * blocks, boilerplate, quoted passages). A doc shorter than n words
    * emits no grams. Map-only: the word array projects once per doc and
    * the positions explode off a sequence, so gram generation never
    * shuffles; the ~W gram rows per W-word doc are the honest cost of
    * position-level resolution (the suffix-array paper pays the same
    * linear blowup in its index). */
  private def gramInstances(docs: DataFrame, docKey: String, textCol: String,
                            n: Int): DataFrame = {
    val base = docs
      .select(col(docKey), split(col(textCol), " ").as("__ws"))
      .withColumn("__m", (size(col("__ws")) - n + 1).cast("int"))
    // sequence(1, m) with m < 1 would generate DESCENDING positions
    // (Spark's sequence runs backwards when start > stop) — the guard
    // maps short docs to an empty position array instead.
    base
      .select(col(docKey), col("__ws"),
        explode(when(col("__m") >= 1, sequence(lit(1), col("__m")))
          .otherwise(lit(Array.empty[Int]))).as("__p"))
      .select(col(docKey), col("__p"),
        md5(array_join(slice(col("__ws"), col("__p"), lit(n)), " ")).as("__h"))
  }

  /** Gram instances with their global occurrence stats attached:
    * `__cnt` (corpus-wide instance count of the gram) and `__first`
    * (the canonical minimum-(doc, position) occurrence) as WINDOW
    * aggregates over the gram hash. One hash-partitioned shuffle of
    * the gram rows computes everything — the groupBy+join-back
    * alternative has the IDENTICAL reduce-side key distribution at its
    * join (gram rows still meet on `__h`), plus a second combined-key
    * shuffle, plus the `grams` subtree evaluated once per reference
    * (measured 3–6× recompute across the span/novelty/report family —
    * the dominant cost of every gram query before this shape). Skew: a
    * gram duplicated B times is B rows in one window partition —
    * bounded by the corpus's worst boilerplate, and exactly what the
    * join-back form's reducer saw too. */
  private def gramsWithStats(grams: DataFrame, docKey: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__h"))
    grams
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__first",
        min(struct(col(docKey).as("__d"), col("__p").as("__i"))).over(w))
  }

  /** Maximal duplicated spans per document, at word n-gram resolution:
    * a span is a maximal run of positions whose n-grams each occur MORE
    * THAN ONCE in the corpus (in any document, itself included —
    * position-level, so a doc repeating its own boilerplate reports
    * too). Gram instances at positions p1 < p2 merge into one span when
    * p2 − p1 ≤ n, i.e. their word intervals [p, p+n−1] overlap or touch
    * back-to-back — adjacent duplicated grams are one continuous
    * duplicated region, not two findings.
    *
    * Output: (docKey, span_start, span_end, span_words, n_grams) — 1-based
    * inclusive WORD indices, ordered by construction for the caller.
    *
    * Shape at 100 TB: gram generation is map-only and runs ONCE; the
    * occurrence count is a window over the gram hash
    * ([[gramsWithStats]] — one hash shuffle of the gram rows, no
    * join-back, no recompute); span assembly is one window + one agg
    * PER DOCUMENT (partitioned by the doc key — bounded by document
    * length, uniform by construction, no global sort anywhere). */
  def duplicateSpans(docs: DataFrame, docKey: String, textCol: String,
                     n: Int): DataFrame = {
    require(n >= 2, s"span grams need n >= 2 words, got $n")
    import org.apache.spark.sql.expressions.Window
    val grams = gramInstances(docs, docKey, textCol, n)
    val w = Window.partitionBy(col(docKey)).orderBy(col("__p"))
    // lag is NULL on each doc's first dup gram: NULL <= n is NULL, so the
    // when-condition falls to otherwise(1) — first gram opens an island
    // (the same null-falsy convention the oracle's CASE relies on).
    gramsWithStats(grams, docKey).filter(col("__cnt") > 1)
      .select(col(docKey), col("__p"))
      .withColumn("__new",
        when(col("__p") - lag(col("__p"), 1).over(w) <= n, 0).otherwise(1))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(docKey), col("__isl"))
      .agg(min(col("__p")).as("span_start"),
        (max(col("__p")) + n - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .withColumn("span_words", col("span_end") - col("span_start") + 1)
      .select(col(docKey), col("span_start"), col("span_end"),
        col("span_words"), col("n_grams"))
  }

  /** Substring-span EXCISION — the Lee et al. 2022 transform itself:
    * CUT every corpus-duplicated span ([[duplicateSpans]]) out of the
    * document and keep the rest, instead of dropping whole documents
    * (what doc-level dedup does) or only non-canonical gram coverage
    * (what [[removeDuplicateSubstrings]] keeps one copy of). Every doc
    * survives with accounting — `n_spans_removed` / `n_words_removed` /
    * `n_chars_removed` — including docs excised to the EMPTY string
    * (callers filter on the accounting; dropping silently would hide
    * the corpus-shrink number a curation pass must report).
    *
    * Span arithmetic: [[duplicateSpans]] merges overlapping/adjacent
    * gram intervals, so its spans are disjoint per doc — word w (1-based
    * after the single-space split) drops iff some span's
    * [span_start, span_end] covers it; survivors rejoin with single
    * spaces. `n_chars_removed` counts against the space-NORMALIZED
    * original (split + rejoin), so the three counts close exactly:
    * output text is always the normalized original minus the excised
    * words (the [[removeDuplicateSubstrings]] normalization contract).
    *
    * Shape at 100 TB: the span side is [[duplicateSpans]] (map-only
    * grams, one hash-window shuffle, per-doc span windows) collapsed to
    * one bounded row per affected doc (spans-per-doc ≤ doc words / n);
    * the rewrite is a left join on the doc key + a per-row
    * higher-order filter — no second gram pass, no explode of kept
    * words, no driver work. */
  def exciseDuplicateSpans(docs: DataFrame, docKey: String, textCol: String,
                           n: Int): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val spans = duplicateSpans(docs, docKey, textCol, n)
      .groupBy(col(docKey))
      .agg(
        sort_array(collect_list(struct(
          col("span_start").as("s"), col("span_end").as("e")))).as("__spans"),
        count(lit(1)).as("__nsp"),
        sum(col("span_words")).as("__nwr"))
    val ws = split(col(textCol), " ")
    docs.select(col(docKey), col(textCol))
      .join(spans, Seq(docKey), "left")
      .withColumn("__norm", array_join(ws, " "))
      .withColumn("__kept", when(col("__spans").isNull, ws).otherwise(
        filter(ws, (_, i) => !exists(col("__spans"),
          sp => (i + 1).between(sp.getField("s"), sp.getField("e"))))))
      .withColumn(textCol, array_join(col("__kept"), " "))
      .select(col(docKey), col(textCol),
        coalesce(col("__nsp"), lit(0L)).cast(LongType).as("n_spans_removed"),
        coalesce(col("__nwr"), lit(0L)).cast(LongType).as("n_words_removed"),
        (length(col("__norm")) - length(col(textCol)))
          .cast(IntegerType).as("n_chars_removed"))
  }

  /** LSH parameter planning — the sizing rule behind every
    * bands/rowsPerBand constant in this library, as a function: for a
    * MinHash signature of `sigLen` hashes, the banding S-curve puts
    * its 50%-candidacy threshold at (1/b)^(1/r); among the
    * factorizations b·r = sigLen this returns the (bands, rowsPerBand)
    * whose threshold lands closest to `targetJaccard` (ties to MORE
    * bands — at equal distance the steeper-recall side, since missed
    * true pairs are unrecoverable while false candidates merely pay
    * the verify). Driver-side pure math — the planning step you run
    * BEFORE committing a 100 TB corpus to a signature layout. */
  def lshPlan(sigLen: Int, targetJaccard: Double): (Int, Int) = {
    require(sigLen >= 1, "need a positive signature length")
    require(targetJaccard > 0 && targetJaccard < 1,
      s"threshold must be in (0, 1), got $targetJaccard")
    val options = (1 to sigLen).filter(sigLen % _ == 0)
      .map { b => (b, sigLen / b) }
    options.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - targetJaccard), -b)
    }
  }

  /** Asymmetric CONTAINMENT pairs (Broder's resemblance companion):
    * ordered pairs (a, b) where at least `threshold` of a's distinct
    * word n-gram shingles also occur in b — the doc-IN-doc detector
    * Jaccard structurally misses (a short quote inside a long article
    * has tiny Jaccard but containment ≈ 1). One row per ordered pair
    * ≥ threshold, so a ⊂ b and b ⊂ a report independently.
    *
    * Plan: distinct shingles explode once per side; |A| rides along as
    * a count window over the doc key (no size-table join-back — the
    * gram-stats lesson); candidates meet ONLY inside a shared
    * shingle's bucket (the contamination join shape — never
    * all-pairs); one (a, b) agg closes. Skew: a boilerplate shingle
    * shared by D docs costs O(D²) bucket rows — so the df-cap is ON BY
    * DEFAULT ([[DefaultMaxShingleDf]]): a shingle in more than that
    * many docs is boilerplate by any reading, and 10k² bucket rows per
    * such shingle is already the outer edge of acceptable. Pass
    * `Int.MaxValue` explicitly for the exact uncapped form (compiles
    * back to the window-free plan). */
  val DefaultMaxShingleDf = 10000

  def containmentPairs(docs: DataFrame, docKey: String, textCol: String,
                       n: Int, threshold: Double,
                       maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1, got $maxShingleDf")
    // |A| (the containment denominator, a's DISTINCT shingle count) is
    // derived AT EXPLODE TIME as size() of the very array being
    // exploded — map-side, zero shuffles. r14 computed it as a count
    // window over the doc key: a full extra shuffle+sort of the
    // explosion for a number the pre-explode array already knows.
    val exploded = docs
      .select(col(docKey), array_distinct(shingles(col(textCol), n)).as("__arr"))
      .select(col(docKey), size(col("__arr")).as("__na"),
        explode(col("__arr")).as("__sh"))
    // The df-cap (the Contamination df-cap, in-operator): shingles in
    // more than `maxShingleDf` docs leave BOTH join sides — they stop
    // generating O(df²) bucket rows and stop counting as shared — while
    // |A| below keeps counting them (a's denominator is its whole
    // profile), so containment only SHRINKS under the cap: a recall
    // trade on corpus boilerplate, never a precision one. Below the cap
    // the output is identical to the uncapped form. Since r14 the
    // DEFAULT is the capped shape (the safe plan at 100 TB ships by
    // default); only an explicit Int.MaxValue compiles back to the
    // cap-free plan (PlanShapeSpec pins both).
    //
    // The capped plan PINS the (doc, na, shingle) explosion ONCE
    // (localCheckpoint — executor-local blocks, spills past memory):
    // the hot-shingle df-agg and BOTH join sides read the pin, so the
    // tokenize+explode (the corpus-bandwidth-dominant step) runs once
    // instead of four times. r14 shipped a 4×-recompute form whose
    // comment claimed parity (~2.4 s) — the quiet closes contradicted
    // it (3.8-4.3 s in-suite). Measured isolated at sf0.1 (min of two
    // passes): r14 recompute+window 2.26 s → this shape 1.66-1.72 s.
    // The pin is corpus-shingle-sized, the price SCALING.md records;
    // the uncapped opt-in form keeps the pin-free two-branch plan.
    //
    // The cap itself is an ANTI JOIN against the tiny-by-definition
    // hot list (|hot| ≤ shingle-instances / maxShingleDf), NOT a
    // per-shingle count window (a window re-sorts the full explosion
    // per side; measured 2.4 → 3.8 s in r14). No broadcast() hint:
    // AQE broadcasts the hot list when it is actually small and falls
    // back to a shuffle anti join when a caller-supplied tiny
    // maxShingleDf (or 100 TB of boilerplate) grows it past the
    // threshold — a forced hint would ship an unbounded build side to
    // the driver (r14 ADVICE).
    // LAZY checkpoint: the pin still truncates lineage and shares the
    // materialized explosion across the hot-list agg and both join
    // sides, but nothing executes until the caller's first action —
    // merely CONSTRUCTING the query (plan inspection, speculative
    // composition) must not launch a corpus-bandwidth job.
    val raw =
      if (maxShingleDf == Int.MaxValue) exploded
      else exploded.localCheckpoint(false)
    val hot =
      if (maxShingleDf == Int.MaxValue) null
      else raw.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxShingleDf)
        .select("__sh")
    def capped(d: DataFrame): DataFrame =
      if (maxShingleDf == Int.MaxValue) d
      else d.join(hot, Seq("__sh"), "left_anti")
    // |A| counts the UNCAPPED profile (computed above, pre-cap), the
    // anti join prunes after — so the cap shrinks containment, never
    // inflates it.
    val l = capped(raw)
      .select(col(docKey).as("a"), col("__na"), col("__sh"))
    val r = capped(raw).select(col(docKey).as("b"), col("__sh"))
    l.join(r, Seq("__sh"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"), col("__na"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment",
        round(col("n_shared").cast(DoubleType) / col("__na"), 6))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("n_shared"), col("containment"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's word n-grams
    * that occur nowhere else in the corpus (and only once in the doc
    * itself) — the inverse of duplication exposure, the quality signal
    * that separates boilerplate-heavy docs (novelty → 0) from original
    * text (novelty → 1). Docs shorter than n words emit n_grams 0 and
    * NULL novelty (no evidence — the perplexity convention). Exact
    * integer quotient rounded 6dp. Same plan as [[duplicateSpans]]
    * minus the span window: map-only grams, combine-reduced hash agg,
    * one semi-join-shaped join back, one per-doc agg. */
  def gramNovelty(docs: DataFrame, docKey: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 2, s"novelty grams need n >= 2 words, got $n")
    import org.apache.spark.sql.types.DoubleType
    val grams = gramInstances(docs, docKey, textCol, n)
    val scored = gramsWithStats(grams, docKey)
      .groupBy(col(docKey))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__cnt") === 1, 1).otherwise(0)).as("unique_grams"))
      .withColumn("novelty", round(
        col("unique_grams").cast(DoubleType) / col("n_grams"), 6))
    docs.select(col(docKey)).distinct()
      .join(scored, Seq(docKey), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("unique_grams", coalesce(col("unique_grams"), lit(0L)))
  }

  /** Per-source duplication-exposure report — what [[duplicateSpans]]
    * aggregates to at release time: gram instances, how many of them
    * are duplicated anywhere in the corpus (itself included), and how
    * many WORDS sit under at least one duplicated gram's [p, p+n−1]
    * interval. `dup_word_rate` is the fraction of a source's volume
    * that substring-level dedup would inspect — the number that tells
    * you whether to run the removal pass at all. Same bounded-agg
    * shape as [[graft.ext.TextAnalysis.corpusDatasheet]]. */
  def duplicationReport(docs: DataFrame, docKey: String, textCol: String,
                        sourceCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span grams need n >= 2 words, got $n")
    import org.apache.spark.sql.types.DoubleType
    val grams = gramInstances(docs, docKey, textCol, n)
    // The flagged instance table feeds TWO aggregation branches (gram
    // rates, word coverage); materialize it once — a report op reading
    // the whole corpus anyway can afford the executor-local copy, and
    // the alternative evaluates the gram+window subtree per branch.
    val flagged = gramsWithStats(grams, docKey)
      .select(col(docKey), col("__p"), col("__cnt")).localCheckpoint()
    val srcOf = docs.select(col(docKey), col(sourceCol).as("__src"))
    val gramAgg = flagged.join(srcOf, Seq(docKey))
      .groupBy(col("__src"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__cnt") > 1, 1).otherwise(0)).as("dup_grams"))
    val covered = flagged.filter(col("__cnt") > 1)
      .select(col(docKey), explode(sequence(col("__p"), col("__p") + n - 1)).as("__wi"))
      .distinct()
    val words = docs
      .select(col(docKey), col(sourceCol).as("__src"),
        posexplode(split(col(textCol), " ")).as(Seq("__i0", "__w")))
      .withColumn("__wi", col("__i0") + 1)
    val wordAgg = words
      .join(covered.withColumn("__c", lit(true)), Seq(docKey, "__wi"), "left")
      .groupBy(col("__src"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("__c"), 1).otherwise(0)).as("dup_words"))
    gramAgg.join(wordAgg, Seq("__src"), "full")
      .select(col("__src").as("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"))
      .withColumn("dup_gram_rate", when(col("n_grams") > 0,
        round(col("dup_grams").cast(DoubleType) / col("n_grams"), 6)))
      .withColumn("dup_word_rate", when(col("n_words") > 0,
        round(col("dup_words").cast(DoubleType) / col("n_words"), 6)))
  }

  /** Remove duplicated substrings, keeping the FIRST occurrence: a gram
    * instance is removable when its gram occurs elsewhere in the corpus
    * AND it is not the canonical (minimum (doc, position)) instance of
    * that gram; every word covered by a removable instance's [p, p+n−1]
    * interval is dropped, survivors reassemble in order, fully-emptied
    * docs drop (the [[dedupParagraphs]] convention). The union of
    * covered words is identical whether or not overlapping intervals
    * are first merged, so removal composes exactly with
    * [[duplicateSpans]]' merged reporting.
    *
    * Keep-first is per GRAM, so overlapping grams interact: a doc
    * holding the canonical copy of gram G can still lose G's words when
    * a different, overlapping gram H is canonical elsewhere — the price
    * of position-level keep-one semantics (the suffix-array original
    * has the same property: it keeps one occurrence of each maximal
    * repeated substring, not one per enclosing context).
    *
    * Shape: gram stats as [[duplicateSpans]]; removable instances
    * explode into at most n covered word indices each; the kept-word
    * filter is a left-anti join keyed (docKey, word index) — uniform by
    * construction — and reassembly is one groupBy(docKey) agg. */
  def removeDuplicateSubstrings(docs: DataFrame, docKey: String,
                                textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span grams need n >= 2 words, got $n")
    val grams = gramInstances(docs, docKey, textCol, n)
    val removable = gramsWithStats(grams, docKey)
      .filter(col("__cnt") > 1 &&
        !(col(docKey) === col("__first.__d") && col("__p") === col("__first.__i")))
      .select(col(docKey), col("__p"))
    val covered = removable
      .select(col(docKey), explode(sequence(col("__p"), col("__p") + n - 1)).as("__wi"))
      .distinct()
    val words = docs
      .select(col(docKey), posexplode(split(col(textCol), " ")).as(Seq("__i0", "__w")))
      .withColumn("__wi", col("__i0") + 1)
    words.join(covered, Seq(docKey, "__wi"), "left_anti")
      .groupBy(col(docKey))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__wi"), col("__w")))),
          x => x.getField("__w")), " ").as(textCol))
  }

  // ───────── suffix-automaton exact LRS (beyond fixed-width grams) ─────────

  /** Length of the LONGEST REPEATED SUBSTRING of `s` (occurrences may
    * overlap — the standard LRS), via a suffix automaton: the max
    * `len(v)` over states whose endpos count ≥ 2. O(|s|) states and
    * time (each of ≤ 2|s|−1 states is created once; the clone loop
    * amortizes against suffix-link depth), O(|s|) memory — the per-ROW
    * bound that makes this safe inside mapPartitions at any corpus
    * size. Character-level and exact, where [[duplicateSpans]] is
    * word-gram-level and fixed-width: this is the detector for
    * pathological self-repetition (generation loops, copy-pasted
    * boilerplate inside one doc) that n-gram machinery quantizes. */
  private[graft] def lrsLength(s: String): Int = {
    // CODE POINTS, not UTF-16 units: a surrogate-pair emoji must count
    // as one character or astral-heavy text doubles its lengths and
    // diverges from the oracle's (code-point) brute force.
    val cps = s.codePoints().toArray
    if (cps.length < 2) return 0
    val maxStates = 2 * cps.length + 2
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val cnt = new Array[Long](maxStates)
    val trans = new Array[scala.collection.mutable.HashMap[Int, Int]](maxStates)
    trans(0) = scala.collection.mutable.HashMap.empty
    link(0) = -1
    var size = 1
    var last = 0
    var ci = 0
    while (ci < cps.length) {
      val c = cps(ci)
      val cur = size; size += 1
      len(cur) = len(last) + 1
      cnt(cur) = 1
      trans(cur) = scala.collection.mutable.HashMap.empty
      var p = last
      while (p != -1 && !trans(p).contains(c)) {
        trans(p)(c) = cur
        p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = trans(p)(c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          cnt(clone) = 0
          trans(clone) = trans(q).clone()
          while (p != -1 && trans(p).get(c).contains(q)) {
            trans(p)(c) = clone
            p = link(p)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      ci += 1
    }
    // endpos sizes: push occurrence counts up the suffix links in
    // decreasing-len order (a state's link always has smaller len).
    val order = Array.range(1, size).sortBy(v => -len(v))
    var i = 0
    while (i < order.length) {
      val v = order(i)
      if (link(v) > 0) cnt(link(v)) += cnt(v)
      i += 1
    }
    var best = 0
    var v = 1
    while (v < size) {
      if (cnt(v) >= 2 && len(v) > best) best = len(v)
      v += 1
    }
    best
  }

  /** Per-document exact LRS length over `lower(substr(text, 1,
    * maxChars))` — map-only, zero shuffles, O(maxChars) memory per row
    * (the automaton lives and dies inside one iterator step; `maxChars`
    * is the explicit bound a 100 TB run sizes against executor memory —
    * the default caps the automaton at ~20k states ≈ a few MB
    * transient). Output: (docKey, lrs_len). Feeds the excision family
    * as a ROUTER: docs whose LRS clears a floor are the ones worth the
    * word-gram span machinery ([[duplicateSpans]] /
    * [[exciseDuplicateSpans]]); the rest skip it — the Lee-et-al
    * suffix-array pass re-expressed as a bounded per-row exact
    * computation plus the existing distributed gram path, instead of a
    * corpus-global suffix array no shuffle plan survives. */
  def longestRepeatedSubstring(df: DataFrame, docKey: String,
                               textCol: String,
                               maxChars: Int = 10000): DataFrame = {
    require(maxChars >= 2, s"need maxChars >= 2, got $maxChars")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(docKey).cast("long"),
        lower(substring(col(textCol), 1, maxChars)))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        (id, lrsLength(if (t == null) "" else t))
      })
      .toDF(docKey, "lrs_len")
  }
}
