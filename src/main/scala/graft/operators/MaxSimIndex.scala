package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable late-interaction (ColBERT MaxSim) index — the last serving
  * tier without an LSM form: the corpus persisted as per-document
  * TOKEN BAGS (doc_id, toks: vec_id-ordered array of token vectors —
  * [[Similarity.tokenBags]]' exact layout), maintained incrementally
  * with the shared marker-last [[LsmSegments]] protocol: each arriving
  * epoch of token vectors is bagged at INGEST time (one
  * bounded-group shuffle per epoch — tokensPerDoc rows per key) and
  * committed as a delta segment, so serving is a pure bag scan:
  * query bags broadcast, Σ_q max_d dot evaluated in-row by codegen'd
  * HOFs, two-phase salted top-k — no corpus shuffle ever at serve
  * time.
  *
  * DOCUMENT-ATOMIC INGEST CONTRACT: all tokens of a document must
  * arrive within ONE epoch (the natural shape — a document is
  * encoded, then ingested). A doc split across epochs would produce
  * two partial bags that serve as two documents; [[readAll]] is where
  * such a violation would surface (duplicate doc_id across segments),
  * and the spec's double-count assertion pins it.
  *
  * float32 token vectors round-trip parquet exactly and array order
  * is preserved, so [[serveAll]] over any base∪delta split is
  * hash-identical to [[Similarity.maxSimKnn]] over the union (pinned
  * by spec + the `knn_maxsim_delta` oracle — the same nested-HOF
  * oracle as `knn_maxsim`). */
object MaxSimIndex extends SegmentedIndex {

  private def readMeta(spark: SparkSession, path: String): Int =
    LsmSegments.readMeta(spark, path)("tokens_per_doc")

  /** Bag `vectors` (vec_id, embedding) into per-doc token lists and
    * persist as base generation 0; `tokensPerDoc` is fixed for the
    * life of the index (stored in `meta.json` — the grouping law is part
    * of the index identity, like a PQ codebook). */
  def write(vectors: DataFrame, path: String, tokensPerDoc: Int = 4): Unit = {
    val spark = vectors.sparkSession
    // the base bags use the PASSED tokensPerDoc, not the stored meta
    // — the two init writes are independent, overlapped (guide §2.6);
    // the gen marker lands after both settle
    initBase(spark, path, Seq(
      () => LsmSegments.writeMeta(spark, path, Map("tokens_per_doc" -> tokensPerDoc))))(
      Similarity.tokenBags(vectors, tokensPerDoc))
  }

  /** Bag an epoch of token vectors by the STORED tokensPerDoc; every
    * document's tokens must be fully contained in the epoch (see the
    * class contract). */
  protected def encode(spark: SparkSession, path: String, vectors: DataFrame): DataFrame =
    Similarity.tokenBags(vectors, readMeta(spark, path))

  /** Top-k by MaxSim over base ∪ committed deltas for `queries` =
    * (query_id, qtoks: array of token vectors — derive with
    * [[Similarity.tokenBags]] for parity with the in-memory path),
    * self-matches excluded — [[Similarity.maxSimKnn]]'s serving plan
    * over the persisted bags. */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame =
    serveSnapshot(readAll(spark, path), queries, k, salts)

  /** [[serveAll]] AS OF a committed delta epoch — historical MaxSim
    * top-k over the retained bag snapshot, same serving plan. */
  def serveAsOf(
      spark: SparkSession, path: String, epoch: Long, queries: DataFrame,
      k: Int = 5, salts: Int = 32): DataFrame =
    serveSnapshot(readAsOf(spark, path, epoch), queries, k, salts)

  /** The serving plan over an already-resolved snapshot — the seam a
    * long-lived server resolves once and answers many query batches
    * against. */
  private[graft] def serveSnapshot(
      snapshot: DataFrame, queries: DataFrame,
      k: Int, salts: Int): DataFrame =
    Similarity.saltedTopK(
      Similarity.maxSimScore(snapshot, queries),
      score = "maxsim", ascending = false, k = k, salts = salts)
}
