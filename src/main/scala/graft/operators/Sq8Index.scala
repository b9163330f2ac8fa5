package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable SQ8 ANN index: the corpus persisted in its int8
  * scalar-quantized representation ([[Similarity.sq8Quantize]] —
  * per-vector max-abs scale + long codes, the 4× scan-bandwidth cut
  * that is the point of SQ8 at 100 TB), maintained incrementally with
  * the same marker-last [[LsmSegments]] protocol as [[IvfIndex]]:
  * arriving vectors are quantized (a pure per-vector function — no
  * trained state at this tier) and committed as delta segments;
  * serving scans base ∪ committed deltas; [[compact]] folds deltas
  * into a new base generation swapped in by a marker written last.
  *
  * scale (double) and codes (array<long>) round-trip parquet
  * bit-exactly, and the asymmetric de-quantized dot is the same
  * deterministic fold as the in-memory path — so [[serveAll]] over
  * any base/delta split is hash-identical to [[Similarity.sq8Knn]]
  * over the union (pinned by spec + the `knn_sq8_delta` oracle). */
object Sq8Index extends SegmentedIndex {

  protected def encode(spark: SparkSession, path: String, vectors: DataFrame): DataFrame =
    Similarity.sq8Quantize(vectors)

  /** Quantize `vectors` (vec_id, embedding) and persist as base
    * generation 0. */
  def write(vectors: DataFrame, path: String): Unit =
    initBase(vectors.sparkSession, path)(Similarity.sq8Quantize(vectors))

  /** Top-k by de-quantized dot for `queries` = (query_id, qv:
    * array<float>), self-matches excluded — the [[Similarity.sq8Knn]]
    * serving plan over the persisted segments (queries broadcast,
    * segment scans never shuffled, two-phase salted top-k). */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame =
    serveSnapshot(readAll(spark, path), queries, k, salts)

  /** [[serveAll]] AS OF a committed delta epoch — historical top-k
    * over the retained snapshot, same serving plan. */
  def serveAsOf(
      spark: SparkSession, path: String, epoch: Long, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame =
    serveSnapshot(readAsOf(spark, path, epoch), queries, k, salts)

  /** The serving plan over an ALREADY-RESOLVED snapshot — the seam a
    * long-lived server (e.g. a [[graft.streaming.StreamingOps.foreachBatch]] serve)
    * uses to resolve the base∪deltas snapshot once and answer many
    * query batches against that one consistent view. */
  private[graft] def serveSnapshot(
      snapshot: DataFrame, queries: DataFrame,
      k: Int, salts: Int): DataFrame =
    Similarity.saltedTopK(
      Similarity.sq8Score(snapshot, queries),
      score = "dot_sq8", ascending = false, k = k, salts = salts)
}
