package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable binary-quantization ANN index — the fourth (and cheapest)
  * persisted tier beside [[IvfIndex]]/[[Sq8Index]]/[[PqIndex]]: the
  * corpus rides as its packed sign bits ([[Similarity.binarySignatures]],
  * 64 dimensions per long — 32× smaller than float32, the standard
  * cheap first-pass retrieval at 100 TB), maintained with the same
  * marker-last [[LsmSegments]] protocol. Packing is a pure per-vector
  * function (no trained state), deltas commit idempotently, serving
  * scans base ∪ committed deltas with a couple of XOR+popcount per
  * candidate, and [[compact]] swaps in a new generation by a marker
  * written last.
  *
  * Longs round-trip parquet exactly, so [[serveAll]] over any
  * base/delta split is hash-identical to [[Similarity.binaryKnn]]
  * over the union (pinned by spec + the `knn_binary_delta` oracle). */
object BinaryIndex extends SegmentedIndex {

  protected def encode(spark: SparkSession, path: String, vectors: DataFrame): DataFrame =
    Similarity.binarySignatures(vectors)

  /** Pack `vectors` (vec_id, embedding) and persist as base
    * generation 0. */
  def write(vectors: DataFrame, path: String): Unit =
    initBase(vectors.sparkSession, path)(Similarity.binarySignatures(vectors))

  /** Top-k by hamming distance for `queries` = (query_id, qsig:
    * array<long> — pack with [[Similarity.binarySignatures]]),
    * self-matches excluded: the [[Similarity.binaryKnn]] serving plan
    * over the persisted segments. */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame =
    serveSnapshot(readAll(spark, path), queries, k, salts)

  /** The serving plan over an ALREADY-RESOLVED snapshot — the seam a
    * long-lived server (e.g. a [[graft.streaming.StreamingOps.foreachBatch]] serve)
    * uses to resolve the base∪deltas snapshot once and answer many
    * query batches against that one consistent view. */
  private[graft] def serveSnapshot(
      snapshot: DataFrame, queries: DataFrame,
      k: Int, salts: Int): DataFrame =
    Similarity.saltedTopK(
      Similarity.binaryScore(snapshot, queries),
      score = "hamming", ascending = true, k = k, salts = salts)
}
