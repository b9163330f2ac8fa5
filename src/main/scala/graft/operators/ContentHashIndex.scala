package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable EXACT-dedup index — the content-hash sibling of
  * [[MinHashIndex]] on the same marker-last [[LsmSegments]] protocol:
  * segments store `(doc_id, text_hash)` (the 8-byte xxhash64 key
  * [[Dedup.exact]] groups on — the shuffle-light, skew-resistant
  * canonical key), so "have we seen this exact document before?" is
  * answerable against an ever-growing corpus without re-scanning it.
  * Arriving documents are hashed (a pure per-row function, like the
  * SQ8 tier's quantize) and committed as delta segments; serving
  * unions base + committed deltas; [[compact]] folds.
  *
  * This is the most common production incremental-dedup shape: the
  * hash set of everything ingested, maintained append-only.
  * [[serveGroups]] over any base/delta split is hash-identical to
  * [[Dedup.exact]] over the union corpus (xxhash64 longs round-trip
  * parquet exactly); [[probeNew]] answers the admission check for a
  * new shard touching only the hash collisions (broadcast semi-join —
  * o(index) shuffle work per probe). */
object ContentHashIndex extends SegmentedIndex {

  /** (doc_id, text_hash) — one narrow pass, zero shuffle. */
  private[graft] def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), xxhash64(col("text")).as("text_hash"))

  protected def encode(spark: SparkSession, path: String, documents: DataFrame): DataFrame =
    fingerprints(documents)

  /** Hash `documents` (doc_id, text) and persist as base gen 0. */
  def write(documents: DataFrame, path: String): Unit =
    initBase(documents.sparkSession, path)(fingerprints(documents))

  /** Exact duplicate groups over the indexed corpus — one shuffle on
    * the stored 8-byte keys; bit-identical to [[Dedup.exact]] over
    * the union corpus. */
  def serveGroups(spark: SparkSession, path: String): DataFrame =
    groupsOver(readAll(spark, path))

  /** [[serveGroups]] AS OF a committed delta epoch — the duplicate
    * groups exactly as they stood when that epoch landed. */
  def serveGroupsAsOf(
      spark: SparkSession, path: String, epoch: Long): DataFrame =
    groupsOver(readAsOf(spark, path, epoch))

  private def groupsOver(fp: DataFrame): DataFrame =
    fp.groupBy("text_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** The admission check: for each document of a NEW shard (disjoint
    * from the index) that exactly duplicates something already
    * ingested, the earliest indexed copy and the indexed multiplicity.
    * o(index) shuffle work: the index scan carries only the 8-byte
    * hash column and is semi-joined against the shard's broadcast
    * hashes BEFORE the (collision-sized) aggregation. */
  def probeNew(
      spark: SparkSession, path: String,
      newDocuments: DataFrame): DataFrame =
    probeNewPlan(spark, path, fingerprints(newDocuments))

  /** [[probeNew]] over PRE-COMPUTED shard fingerprints (doc_id,
    * text_hash) — `newFp` is referenced on two plan branches (the
    * broadcast key set and the result join), so a caller that already
    * holds a materialized hashed frame (the admission loop) avoids
    * re-scanning its source. */
  private[graft] def probeNewPlan(
      spark: SparkSession, path: String, newFp: DataFrame): DataFrame = {
    val hits = readAll(spark, path)
      .join(broadcast(newFp.select("text_hash").distinct()),
        Seq("text_hash"), "left_semi")
      .groupBy("text_hash")
      .agg(min("doc_id").as("dup_of_doc_id"),
        count(lit(1)).as("n_indexed_copies"))
    newFp.join(broadcast(hits), Seq("text_hash"))
      .select(col("doc_id"), col("dup_of_doc_id"), col("n_indexed_copies"))
  }

  /** Semantic diff between two retained snapshots: every fingerprint
    * tuple that entered the index after `fromEpoch` and is visible at
    * `toEpoch`, labeled `'changed'` when the doc id was already
    * indexed at `fromEpoch` (a re-crawl whose content moved) and
    * `'added'` when it is new — the audit view a lakehouse ingest
    * reviews before promoting an epoch ("what did this crawl actually
    * change?"). Returns (doc_id, status).
    *
    * Set semantics on (doc_id, text_hash): a doc re-appended with
    * IDENTICAL content is not a difference (and an exact-dedup
    * admission loop would have dropped it upstream anyway). Both
    * snapshots resolve through the as-of protocol, so the diff is
    * exact for any two retained epochs and fails loudly past the gc
    * horizon. Shape: two snapshot folds, one anti join + one
    * presence join, all hash-partitioned on doc_id — o(index), no
    * windows, nothing driver-side. */
  def diffAsOf(
      spark: SparkSession, path: String,
      fromEpoch: Long, toEpoch: Long): DataFrame = {
    val a = readAsOf(spark, path, fromEpoch).distinct()
    val b = readAsOf(spark, path, toEpoch).distinct()
    b.join(a, Seq("doc_id", "text_hash"), "left_anti")
      .join(a.select(col("doc_id")).distinct()
          .withColumn("was_indexed", lit(1)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("was_indexed").isNotNull, lit("changed"))
          .otherwise(lit("added")).as("status"))
  }
}
