package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable Hamming-signature near-dup index — the persisted form of
  * the 64-bit chunked-signature dedup family ([[Dedup.simhashPairsMd5]]
  * for text, [[graft.multimodal.Multimodal.imageAHash]] for images):
  * the corpus persisted as (doc_id, c0..c3) signature rows — 4×16-bit
  * chunks, no uint64 traps — maintained incrementally with the shared
  * marker-last [[LsmSegments]] protocol. SIGNATURE-AGNOSTIC by design:
  * the caller computes signatures with ONE fixed function for the life
  * of the index (the analogue of [[MinHashIndex]]'s fixed LSH
  * parameters — mixing signature functions across epochs is a caller
  * bug the pair law cannot detect), so one index type serves every
  * perceptual/text hash that fits the chunk carriage.
  *
  * [[probePairs]] answers the admission question — "is anything in
  * this new shard within `maxHamming` bits of anything already
  * ingested?" — touching only the chunk buckets the shard collides
  * with: the index's banding rows are semi-joined against the shard's
  * broadcast bucket keys BEFORE any shuffle, so only colliding buckets
  * move, o(index) per probe. The pigeonhole guarantee (hamming ≤ 3
  * over 4 chunks forces ≥ 1 exact chunk match) makes the blocking
  * EXHAUSTIVE, not probabilistic — the probe equals the all-pairs
  * restriction to shard-touching pairs, which is what makes it exactly
  * oracle-able. Bucket fan-out defaults to UNCAPPED (the exhaustive
  * oracle contract; byte-identical megaclusters belong to an
  * exact-hash stage run first — e.g. [[ContentHashIndex]] over the
  * payload bytes), and every pair entry point takes the shared
  * `maxBucket` SKEW CAP for residual hot buckets (solid-color /
  * near-white crawl images collapse to a handful of aHash chunk
  * values): a bucket past the cap saturates and contributes NO pairs
  * — dropped whole, never a partial pair set — so one hot
  * (chunk, chunk_val) key is a monitored drop
  * ([[saturatedBuckets]]), not a single-task O(n²) blow-up.
  *
  * Signatures are 4 ints and round-trip parquet exactly, so
  * [[servePairs]] over any base∪delta split is hash-identical to
  * [[Dedup.hammingChunkPairs]] over the union (pinned by spec + the
  * `mm_neardup_delta` oracle, which is the batch operator's own). */
object HammingIndex extends SegmentedIndex {

  private def sigCols(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"))

  /** Persist `signatures` (doc_id, c0..c3 — 4×16-bit chunk ints from
    * ONE fixed signature function) as base generation 0. */
  def write(signatures: DataFrame, path: String): Unit =
    initBase(signatures.sparkSession, path)(sigCols(signatures))

  /** An epoch of signatures, made with the same signature function as
    * every other epoch (the class contract). */
  protected def encode(spark: SparkSession, path: String, signatures: DataFrame): DataFrame =
    sigCols(signatures)

  /** [[servePairs]] AS OF a committed delta epoch: the batch pair law
    * over the historical snapshot — "what did the dedup decision set
    * look like when epoch N landed?", the audit/backfill question a
    * production ingest answers from its retained generations without
    * replaying any ingest. Same budgets and contracts as
    * [[servePairs]]. */
  def servePairsAsOf(
      spark: SparkSession, path: String, epoch: Long, maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame =
    Dedup.hammingChunkPairs(readAsOf(spark, path, epoch), maxHamming, maxBucket)

  /** All near-dup pairs over the indexed corpus — the batch
    * chunk-blocked Hamming pair law replayed over base ∪ deltas.
    * `maxHamming` ≤ 3 is asserted inside the shared pair law (the
    * same pigeonhole guard as [[probePairs]] — a larger budget would
    * silently return a partial pair set). `maxBucket` is the shared
    * skew cap ([[Dedup.hammingChunkPairs]]'s contract: a hot
    * (chunk, chunk_val) bucket past the cap saturates and contributes
    * no pairs — dropped whole, never partial; default uncapped =
    * the exhaustive oracle contract). */
  def servePairs(
      spark: SparkSession, path: String, maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame =
    Dedup.hammingChunkPairs(readAll(spark, path), maxHamming, maxBucket)

  /** Observability: ONE row per LIVE segment — (segment, n_rows),
    * `segment` ∈ {"base", "delta_<epoch>"} — the view an operator
    * sizes compaction from (how many unfolded deltas a serve unions,
    * how big each). Read-only: per segment one map-side-combinable
    * global count over the already-resolved snapshot, no shuffle of
    * anything wider than a count; output is O(#segments). */
  def segmentStats(spark: SparkSession, path: String): DataFrame = {
    val (basePath, deltaPaths) = LsmSegments.liveSegments(spark, path)
    (("base", basePath) +: deltaPaths.map(p =>
        (s"delta_${p.substring(p.lastIndexOf('/') + 1)}", p)))
      .map { case (tag, p) =>
        LsmSegments.readArtifacts(spark, Seq(p))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(tag).as("segment"), col("n_rows"))
      }
      .reduce(_ unionByName _)
  }

  /** Skew diagnostic: the (chunk, chunk_val, n_members) buckets of
    * the indexed corpus that would SATURATE under `maxBucket` — what
    * a deployment monitors to size its cap (and to learn that an
    * exact-hash pre-stage is missing: byte-identical megaclusters
    * are the usual cause). One aggregation over the signature rows,
    * output bounded by the number of hot buckets. */
  def saturatedBuckets(
      spark: SparkSession, path: String, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"saturatedBuckets: cap $maxBucket below the pair minimum")
    readAll(spark, path)
      .select(posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .toDF("chunk", "chunk_val")
      .groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)
  }

  /** (doc_id, c0..c3, chunk, chunk_val) — the signature unpacked into
    * its 4 blocking rows, full signature carried for the in-bucket
    * hamming. */
  private def banded(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .toDF("doc_id", "c0", "c1", "c2", "c3", "chunk", "chunk_val")

  /** Near-dup pairs TOUCHING a new shard of signatures (ids disjoint
    * from the index) — the admission check, vs the indexed corpus ∪
    * the shard. `maxHamming` ≤ 3 keeps the 4-chunk pigeonhole
    * exhaustive (asserted). Returns (a_id, b_id, hamming), eagerly
    * materialized (output-sized). */
  def probePairs(
      spark: SparkSession, path: String, newSignatures: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"probePairs: hamming budget $maxHamming breaks the 4-chunk " +
        "pigeonhole (exhaustive blocking needs maxHamming + 1 <= chunks)")
    require(maxBucket >= 2,
      s"probePairs: maxBucket $maxBucket can admit no pairs at all")
    Storage.pinning(sigCols(newSignatures))(
      probePairsPlan(spark, path, _, maxHamming, maxBucket).transform(Storage.pin))
  }

  /** The pure probe plan over ALREADY-MATERIALIZED shard signatures —
    * factored like [[MinHashIndex.probePairsPlan]] so plan pins see
    * the broadcast-semi-join pruning. `newSigs` feeds two branches
    * (bucket keys / banding union); pass a checkpointed frame. */
  private[graft] def probePairsPlan(
      spark: SparkSession, path: String, newSigs: DataFrame,
      maxHamming: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    val newBanded = banded(newSigs).withColumn("is_new", lit(true))
    val keys = newBanded.select("chunk", "chunk_val").distinct()
    val touched = banded(readAll(spark, path))
      .join(broadcast(keys), Seq("chunk", "chunk_val"), "left_semi")
      .withColumn("is_new", lit(false))
    // members sort/pair by their FIRST struct field (doc_id), so the
    // a < b orientation matches the batch expansion exactly.
    // The skew cap counts index∪shard members — for any bucket a new
    // signature touches, the semi-join admits EVERY index member of
    // that bucket, so the count (and hence saturation) is identical
    // to the batch law's over the union, preserving the
    // probe == restriction-of-servePairs identity under any cap.
    touched.unionByName(newBanded)
      .groupBy("chunk", "chunk_val")
      .agg(collect_list(struct(
        col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("is_new"))).as("members"))
      .where(size(col("members")).between(2, maxBucket))
      .select(explode(Dedup.pairCombinations(col("members"))).as("p"))
      .where(col("p").getItem(0).getField("is_new") ||
        col("p").getItem(1).getField("is_new"))
      .select(
        col("p").getItem(0).getField("doc_id").as("a_id"),
        col("p").getItem(1).getField("doc_id").as("b_id"),
        (0 until 4).map(c =>
          bit_count(col("p").getItem(0).getField(s"c$c")
            .bitwiseXOR(col("p").getItem(1).getField(s"c$c"))))
          .reduce(_ + _).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
