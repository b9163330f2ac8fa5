package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable IVF ANN index: the trained centroid table plus the
  * per-vector inverted-list assignment, persisted as parquet and
  * served WITHOUT retraining or reassignment — how a production
  * pipeline actually uses a trainer's output (train once, serve many).
  *
  * Layout ([[LsmSegments]] holds the generation/epoch metadata):
  *  - `<path>/centroids`: (c_id, c_vec) — k rows;
  *  - `<path>/base/<gen>`, `<path>/deltas/<epoch>`: (vec_id,
  *    embedding, c_id) segments PARTITIONED BY c_id — one directory
  *    per inverted list, so a probe of `nProbe` lists is a
  *    partition-pruned scan: the broadcast probe join's c_id filter
  *    reaches the parquet source as a partition filter (dynamic
  *    partition pruning), and the un-probed (nCentroids −
  *    nProbe)/nCentroids of the corpus is never read. That pruning is
  *    the entire point of IVF at 100 TB — the on-disk layout makes it
  *    literal instead of logical, and it holds segment by segment.
  *
  * float32 embeddings round-trip parquet bit-exactly, so serving from
  * the persisted index is hash-identical to the in-memory
  * [[Similarity.ivfKnnWith]] path (pinned by spec + the
  * `knn_ivf_persisted` oracle query).
  *
  * Incremental maintenance is the LSM pattern every real ANN serving
  * system uses: each arriving epoch of vectors is assigned against the
  * FIXED trained centroids and committed as a marker-guarded delta
  * segment ([[appendEpoch]] — replayed epochs are skipped, torn
  * segments invisible), serving unions base ∪ committed deltas
  * ([[serveAll]]), and [[compact]] folds deltas into a NEW base
  * generation committed by a generation marker written last — so a
  * reader interleaved anywhere in the compact sees exactly one
  * consistent copy of every vector (pinned by SimilaritySpec's
  * compaction-race test). */
object IvfIndex extends SegmentedIndex {

  /** Segments are partitioned by inverted list, so a probe reads only
    * the probed lists' dirs; the carried schema declares c_id long. */
  override protected def partitionCols: Seq[String] = Seq("c_id")

  /** The trained centroid table (c_id, c_vec), FIXED for the life of
    * the index. */
  def centroids(spark: SparkSession, path: String): DataFrame =
    LsmSegments.readArtifacts(spark, Seq(s"$path/centroids"))

  /** Assign an epoch of vectors (vec_id, embedding) against the stored
    * centroids. */
  protected def encode(spark: SparkSession, path: String, vectors: DataFrame): DataFrame =
    Similarity.ivfAssign(vectors, centroids(spark, path))

  /** Build the assignment from `centroids` and persist both halves
    * (base generation 0, committed by its generation marker). */
  def write(embeddings: DataFrame, centroids: DataFrame, path: String): Unit = {
    val spark = embeddings.sparkSession
    // the assignment already encodes from the in-memory centroids, so
    // the centroids write and the base write are independent jobs —
    // overlap them (guide §2.6); marker after both settle
    initBase(spark, path, Seq(
      () => LsmSegments.writeArtifact(centroids, s"$path/centroids")))(
      Similarity.ivfAssign(embeddings, centroids))
  }

  /** Serve top-k from base ∪ committed deltas: probe-list selection +
    * exact-cosine rank, corpus touched only in the probed partitions.
    * `queries` = (query_id, q: array<float>). */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame =
    Similarity.ivfServe(readAll(spark, path), centroids(spark, path), queries, k, nProbe)

  /** [[serveAll]] AS OF a committed delta epoch: historical top-k —
    * "what would this query have retrieved when epoch N landed?", the
    * reproducibility question a training-data pipeline answers when it
    * re-derives which neighbors shaped an old decision (an admission
    * drop, a mined hard negative) without replaying any ingest. Same
    * probe/ranking as [[serveAll]], over the retained snapshot. */
  def serveAsOf(
      spark: SparkSession, path: String, epoch: Long, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame =
    Similarity.ivfServe(
      readAsOf(spark, path, epoch), centroids(spark, path), queries, k, nProbe)

  /** Semantic admission probe — SemDeDup at INGEST time, the
    * embedding analogue of [[MinHashIndex.probePairs]]: for a new
    * shard of vectors (vec_id, embedding — ids disjoint from the
    * index), every (indexed, shard) and (shard, shard) pair whose two
    * sides land in the SAME inverted list (assignment against the
    * index's FIXED trained centroids) with cosine ≥ `threshold`. An
    * admission loop drops the shard side of each pair before the
    * vectors enter a training corpus; index-index pairs are excluded
    * by construction (they were screened when THEY were admitted).
    *
    * o(index) per probe: candidate generation is cluster-blocked —
    * the shard's (at most |shard|) assigned c_ids broadcast, and with
    * the c_id-partitioned on-disk layout the broadcast join's c_id
    * filter reaches the parquet source as a partition filter, so
    * un-touched inverted lists are never read (the same pruning
    * [[serveAll]] relies on, here keyed by the shard's clusters). The
    * corpus is never shuffled; within-shard pairs are a broadcast
    * self-join. The shard assignment is computed ONCE (eager
    * localCheckpoint — it feeds three plan branches) and the result
    * comes back eagerly materialized (it is output-sized).
    *
    * SKEW CAP (`maxList`): a touched inverted list holding more than
    * `maxList` INDEXED members is saturated and contributes NO pairs —
    * the same documented contract as [[Similarity.cosineLshVerdicts]]'
    * megabuckets and [[Dedup.MAX_BUCKET]]'s LSH buckets (every other
    * candidate-generation path is bounded; this one is too). Without
    * it, one k-means megacluster — real embedding corpora have them —
    * makes one straggler task own |list|×|shard∩list| of the probe at
    * 100 TB. Recall inside a saturated list degrades explicitly (the
    * list stops flagging), never silently (no partial pair set). The
    * per-list member count is one map-side-combinable count over the
    * already-pruned partitions touching only the partition column —
    * metadata-cheap — resolved driver-side (≤ nCentroids values, the
    * same literal-filter class as `touched`), so the exclusion
    * reaches every segment scan as a planning-time partition filter
    * and no pair branch re-runs the aggregation. */
  def probeSemantic(
      spark: SparkSession, path: String, newVectors: DataFrame,
      threshold: Double = 0.95, maxList: Int = 4096): DataFrame = {
    Storage.pinning(Similarity.ivfAssign(newVectors, centroids(spark, path)))(
      probeSemanticPlan(spark, path, _, threshold, maxList).transform(Storage.pin))
  }

  /** Pure plan builder of [[probeSemantic]] over an already-assigned,
    * materialized shard (c_id, vec_id, embedding) — factored out so
    * the index-pruning tree stays visible to plan pins and
    * PLAN_DIGEST; the operator surface hides it behind the eager
    * checkpoint. The shard's touched inverted lists are collected
    * (the shard is already materialized; distinct c_ids are bounded
    * by min(|shard|, nCentroids), and the centroid table broadcasts
    * by contract) and pushed into the segment scans as a LITERAL
    * `c_id IN (...)` — a planning-time partition filter, so the
    * untouched lists are pruned statically with no reliance on the
    * runtime DPP heuristics (which skip a filter-less broadcast
    * side). */
  private[graft] def probeSemanticPlan(
      spark: SparkSession, path: String, shard: DataFrame,
      threshold: Double, maxList: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val touched = shard.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val allSegs = readAll(spark, path)
    // the skew cap's saturated-list set: indexed members per TOUCHED
    // list (one count over the pruned partitions, reading only the
    // partition column — metadata-cheap), resolved DRIVER-SIDE like
    // `touched` itself (≤ min(|touched|, nCentroids) rows — the same
    // literal-partition-filter class as a DPP literal). Resolving it
    // here instead of as a relational anti-join keeps it out of the
    // pair branches, which would each re-run the aggregation (plan
    // branches share no work), and lets the exclusion reach every
    // scan as a planning-time partition filter. A touched list with
    // NO indexed members never saturates — its within-shard pairs
    // still flow.
    val saturated = allSegs.where(col("c_id").isin(touched: _*))
      .groupBy("c_id").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxList)
      .select("c_id").collect().map(_.getLong(0)).toSet
    val ok = touched.filterNot(saturated)
    val all = allSegs.where(col("c_id").isin(ok: _*))
    val shardOk = shard.where(col("c_id").isin(ok: _*))
    val crossPairs = all
      .join(broadcast(shardOk.select(col("c_id"),
        col("vec_id").as("s_id"), col("embedding").as("s_v"))), "c_id")
      .select(
        least(col("vec_id"), col("s_id")).as("a_id"),
        greatest(col("vec_id"), col("s_id")).as("b_id"),
        cosine(col("embedding"), col("s_v")).as("cos"))
      .where(col("cos") >= threshold)
    val withinPairs = shardOk
      .select(col("c_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_v"))
      .join(broadcast(shardOk.select(col("c_id"),
        col("vec_id").as("b_id"), col("embedding").as("b_v"))), "c_id")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_v"), col("b_v")).as("cos"))
      .where(col("cos") >= threshold)
    crossPairs.unionByName(withinPairs)
  }
}
