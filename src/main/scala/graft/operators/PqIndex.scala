package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable PQ ANN index: the trained/seeded codebook persisted once,
  * the corpus persisted as its PQ codes (subspaces × small ints —
  * the memory-bound ANN tier), maintained incrementally with the
  * marker-last [[LsmSegments]] protocol shared with [[IvfIndex]] /
  * [[Sq8Index]]: arriving vectors are encoded against the FIXED
  * stored codebook ([[Similarity.pqEncodeCodes]] — train once, encode
  * forever) and committed as delta segments; serving builds the
  * per-query ADC lookup tables from the stored codebook and scans
  * base ∪ committed deltas; [[compact]] folds deltas into a new
  * generation swapped in by a marker written last.
  *
  * Layout: `<path>/codebook` = (cw_k int, cw full-dim array<float>),
  * `<path>/meta.json` = (subspaces, sub_dim), plus the
  * [[LsmSegments]] base/delta segments of (vec_id, c0..c_{M−1}).
  * Codes are ints and the codebook floats round-trip parquet exactly,
  * so [[serveAll]] over any base/delta split is hash-identical to
  * [[Similarity.pqKnn]] over the union with the same codebook (pinned
  * by spec + the `knn_pq_delta` oracle). */
object PqIndex extends SegmentedIndex {

  private def readMeta(spark: SparkSession, path: String): (Int, Int) = {
    val m = LsmSegments.readMeta(spark, path)
    (m("subspaces"), m("sub_dim"))
  }

  private def readCodebook(spark: SparkSession, path: String): DataFrame =
    LsmSegments.readArtifacts(spark, Seq(s"$path/codebook"))

  /** Persist the codebook + grid metadata and encode `vectors`
    * (vec_id, embedding) as base generation 0. `codebook` = (cw_k
    * int, cw: full-dimension array<float>) — [[Similarity.pqKnn]]'s
    * seed form or any trained equivalent; it is FIXED for the life of
    * the index (re-training means a new index, exactly like IVF
    * centroids). ADC serving indexes LUTs positionally, so the stored
    * codebook is re-keyed dense 0..K−1 on write
    * ([[Similarity.denseCodebook]] — order-preserving, identity for
    * the already-dense seed form; a trained codebook with gaps is made
    * safe instead of silently misindexing). */
  def write(
      vectors: DataFrame, codebook: DataFrame, path: String,
      subspaces: Int = 4, subDim: Int = 16): Unit = {
    val spark = vectors.sparkSession
    val cb = Similarity.denseCodebook(codebook)
    // the init writes overlap (guide §2.6): the two small state writes
    // land in disjoint dirs and the base encode already runs against
    // the in-memory cb; the gen marker lands after all settle
    initBase(spark, path, Seq(
      () => LsmSegments.writeArtifact(cb, s"$path/codebook"),
      () => LsmSegments.writeMeta(spark, path,
        Map("subspaces" -> subspaces, "sub_dim" -> subDim))))(
      Similarity.pqEncodeCodes(vectors, cb, subspaces, subDim))
  }

  /** Encode an epoch against the STORED codebook and grid. */
  protected def encode(spark: SparkSession, path: String, vectors: DataFrame): DataFrame = {
    val (subspaces, subDim) = readMeta(spark, path)
    Similarity.pqEncodeCodes(vectors, readCodebook(spark, path), subspaces, subDim)
  }

  /** Top-k by ADC distance for `queries` = (query_id, q:
    * array<float>), self-matches excluded: per-query LUTs from the
    * stored codebook (broadcast), one scan over the persisted code
    * segments, two-phase salted top-k — [[Similarity.pqKnn]]'s
    * serving plan over the index. */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame = {
    val (snapshot, codebook, subspaces, subDim) = openAll(spark, path)
    serveSnapshot(snapshot, codebook, subspaces, subDim, queries, k, salts)
  }

  /** [[serveAll]] AS OF a committed delta epoch — historical top-k
    * over the retained code snapshot; the trained state (codebook,
    * grid) is fixed for the life of the index, so only codes travel. */
  def serveAsOf(
      spark: SparkSession, path: String, epoch: Long, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame = {
    val (subspaces, subDim) = readMeta(spark, path)
    serveSnapshot(readAsOf(spark, path, epoch),
      readCodebook(spark, path), subspaces, subDim, queries, k, salts)
  }

  /** Resolve one consistent snapshot PLUS the index's fixed trained
    * state (codebook, grid) in a single call — the handle a
    * long-lived server (e.g. a [[graft.streaming.StreamingOps.foreachBatch]] serve)
    * opens once and answers many query batches against. */
  private[graft] def openAll(
      spark: SparkSession, path: String): (DataFrame, DataFrame, Int, Int) = {
    val (subspaces, subDim) = readMeta(spark, path)
    (readAll(spark, path), readCodebook(spark, path), subspaces, subDim)
  }

  /** The serving plan over an [[openAll]] handle. */
  private[graft] def serveSnapshot(
      snapshot: DataFrame, codebook: DataFrame, subspaces: Int, subDim: Int,
      queries: DataFrame, k: Int, salts: Int): DataFrame = {
    val luts = Similarity.pqQueryLuts(queries, codebook, subspaces, subDim)
    Similarity.saltedTopK(
      Similarity.pqAdcScore(snapshot, luts, subspaces),
      score = "adc_dist", ascending = true, k = k, salts = salts)
  }
}
