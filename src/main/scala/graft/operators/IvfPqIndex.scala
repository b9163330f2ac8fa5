package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable IVF-PQ ANN index (IVFADC, Jégou et al. 2011 — the composed
  * billion-scale layout FAISS defaults to): the coarse centroid table
  * AND the residual codebook persisted once, the corpus persisted as
  * (inverted-list id, PQ codes over the residual v − c(v)) — so BOTH
  * prunings survive the disk round-trip: a query reads only its probed
  * c_id partitions (the IVF term, literal in the on-disk layout like
  * [[IvfIndex]]) and scores each candidate with `subspaces` table adds
  * (the PQ term, memory-bound like [[PqIndex]]). Maintained
  * incrementally with the marker-last [[LsmSegments]] protocol shared
  * by all the index tiers: arriving vectors are assigned + residual-
  * encoded against the FIXED trained state (train once, encode
  * forever) and committed as delta segments; [[compact]] folds deltas
  * into a new generation swapped in by a marker written last.
  *
  * Layout: `<path>/centroids` = (c_id, c_vec array<float>),
  * `<path>/codebook` = (cw_k int, cw full-dim array<double> — RESIDUAL
  * codewords, doubles because residuals are exact float32 differences
  * computed in double), `<path>/meta.json` = (subspaces, sub_dim),
  * plus the [[LsmSegments]] base/delta segments of (vec_id, c0..c_{M−1})
  * PARTITIONED BY c_id — one directory per inverted list per segment.
  * Codes are ints and centroid floats / codeword doubles round-trip
  * parquet exactly, so [[serveAll]] over any base/delta split is
  * hash-identical to [[Similarity.ivfPqKnn]] over the union with the
  * same trained state (pinned by spec + the `knn_ivfpq_delta` oracle). */
object IvfPqIndex extends SegmentedIndex {

  /** Segments are partitioned by inverted list like [[IvfIndex]]'s;
    * the carried schema declares c_id long, as the probe LUTs join it. */
  override protected def partitionCols: Seq[String] = Seq("c_id")

  private def readMeta(spark: SparkSession, path: String): (Int, Int) = {
    val m = LsmSegments.readMeta(spark, path)
    (m("subspaces"), m("sub_dim"))
  }

  /** The fixed trained state: coarse centroids, then the codebook. */
  private def trainedState(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (LsmSegments.readArtifacts(spark, Seq(s"$path/centroids")),
      LsmSegments.readArtifacts(spark, Seq(s"$path/codebook")))

  /** The init siblings of [[write]] and [[writeTrained]]: the trained
    * state and the grid, in disjoint dirs. */
  private def stateWrites(
      centroids: DataFrame, codebook: DataFrame, path: String,
      subspaces: Int, subDim: Int): Seq[() => Unit] = Seq(
    () => LsmSegments.writeArtifact(centroids, s"$path/centroids"),
    () => LsmSegments.writeArtifact(codebook, s"$path/codebook"),
    () => LsmSegments.writeMeta(centroids.sparkSession, path,
      Map("subspaces" -> subspaces, "sub_dim" -> subDim)))

  /** Persist the trained state (coarse centroids + residual codebook +
    * grid metadata) and assign/encode `vectors` (vec_id, embedding) as
    * base generation 0. `centroids` = (c_id, c_vec); `codebook` =
    * (cw_k int, cw: full-dimension array<double> residual codewords) —
    * [[Similarity.ivfPqKnn]]'s seed form ([[Similarity.ivfPqSeedCodebook]])
    * or any trained equivalent. Both are FIXED for the life of the
    * index — re-training means a new index.
    *
    * ADC serving indexes LUTs POSITIONALLY (element_at over a
    * cw_k-sorted list), which is only correct when cw_k is dense
    * 0..K−1 — so the codebook is re-keyed dense here, order-preserving
    * (identity for an already-dense codebook, so the seed-form oracles
    * are unchanged; a trained codebook with gaps — an emptied cluster —
    * is made safe instead of silently misindexing). Encode and serve
    * both read the STORED (re-keyed) codebook, so they stay mutually
    * consistent by construction. */
  def write(
      vectors: DataFrame, centroids: DataFrame, codebook: DataFrame,
      path: String, subspaces: Int = 4, subDim: Int = 16): Unit = {
    val spark = vectors.sparkSession
    // the init writes overlap (guide §2.6): the trained-state writes
    // land in disjoint dirs, and the base encode runs against
    // the SAME in-memory dense state the writes persist — float32
    // centroids / double codewords round-trip parquet exactly and the
    // dense re-key is a deterministic projection, so encode-from-
    // memory is bit-identical to the old encode-from-stored. The gen
    // marker still lands only after every job settles (initBaseWith).
    val denseCb = Similarity.denseCodebook(codebook)
    initBase(spark, path, stateWrites(centroids, denseCb, path, subspaces, subDim))(
      encodeWith(vectors, centroids, denseCb, subspaces, subDim))
  }

  /** Persist a FULLY TRAINED state — coarse centroids plus the
    * PER-SUBSPACE residual codebook (m, cw_k, cw: array<float>), the
    * pair [[Similarity.ivfPqTrainState]] returns — and assign/encode
    * `vectors` as base generation 0. This is the production IVFADC
    * trajectory: Lloyd-train both halves ONCE on a sample, persist,
    * then residual-encode every arriving epoch against the stored
    * state forever ([[appendEpoch]] dispatches on the stored
    * codebook's shape, so deltas encode through the per-m path
    * automatically). The codebook is re-keyed dense per subspace on
    * the way in ([[Similarity.denseCodebookPerM]] — identity for the
    * trainer's already-dense output, safety for gappy books: ADC
    * LUT indexing is positional). Segments share the full-dim form's
    * exact (vec_id, c_id, c0..c_{M−1}) layout, so every maintenance
    * path ([[compact]]/[[gc]]/[[readAll]]) is form-agnostic. */
  def writeTrained(
      vectors: DataFrame, centroids: DataFrame, cbPerM: DataFrame,
      path: String, subspaces: Int = 4, subDim: Int = 16): Unit = {
    val spark = vectors.sparkSession
    // same overlap as [[write]]: per-m codewords are float32
    // (exact parquet round-trip) and the per-m dense re-key is a
    // deterministic projection, so the in-memory encode matches the
    // stored-state encode bit-for-bit; marker after all jobs settle
    val denseCb = Similarity.denseCodebookPerM(cbPerM)
    initBase(spark, path, stateWrites(centroids, denseCb, path, subspaces, subDim))(
      encodeWith(vectors, centroids, denseCb, subspaces, subDim))
  }

  /** Assign + residual-encode against the STORED trained state,
    * dispatching on the stored codebook's shape: a per-m codebook
    * (the [[writeTrained]] form — it has an `m` column) encodes
    * through the sliced per-subspace path; a full-dim codebook (the
    * [[write]] seed form) through [[Similarity.ivfPqEncodeCodes]].
    * Both yield the identical (vec_id, c_id, c0..c_{M−1}) segment
    * schema. */
  protected def encode(spark: SparkSession, path: String, vectors: DataFrame): DataFrame = {
    val (subspaces, subDim) = readMeta(spark, path)
    val (centroids, codebook) = trainedState(spark, path)
    encodeWith(vectors, centroids, codebook, subspaces, subDim)
  }

  /** The encode plan over explicit state relations — the stored ones
    * ([[encode]]) or, during init, the in-memory dense state the
    * concurrent sibling jobs are persisting (identical values: exact
    * parquet round-trip, deterministic re-key). */
  private def encodeWith(
      vectors: DataFrame, centroids: DataFrame, cb: DataFrame,
      subspaces: Int, subDim: Int): DataFrame = {
    val residuals = Similarity.ivfPqResiduals(vectors, centroids)
    if (cb.columns.contains("m"))
      Similarity.ivfPqEncodePerM(
        Similarity.ivfPqSliceResiduals(residuals, subspaces, subDim),
        cb, subspaces)
    else Similarity.ivfPqEncodeCodes(residuals, cb, subspaces, subDim)
  }

  /** Resolve one consistent snapshot PLUS the index's fixed trained
    * state in a single call — the handle a long-lived server (e.g.
    * a [[graft.streaming.StreamingOps.foreachBatch]] serve) opens once and
    * answers many query batches against. */
  private[graft] def openAll(
      spark: SparkSession, path: String): (DataFrame, DataFrame, DataFrame, Int, Int) = {
    val (subspaces, subDim) = readMeta(spark, path)
    val (centroids, codebook) = trainedState(spark, path)
    (readAll(spark, path), centroids, codebook, subspaces, subDim)
  }

  /** The serving plan over an [[openAll]] handle: per-(query, probed
    * centroid) ADC LUTs from the stored trained state (broadcast), one
    * scan over the probed c_id partitions of the persisted code
    * segments — the broadcast LUT join's c_id filter reaches every
    * segment's parquet source as a partition filter — two-phase salted
    * top-k. */
  private[graft] def serveSnapshot(
      snapshot: DataFrame, centroids: DataFrame, codebook: DataFrame,
      subspaces: Int, subDim: Int, queries: DataFrame,
      k: Int, nProbe: Int, salts: Int): DataFrame = {
    // LUT construction dispatches on the stored codebook's shape like
    // [[encode]]; scoring is shared — codes are codes either way
    val luts =
      if (codebook.columns.contains("m"))
        Similarity.ivfPqLutsPerM(
          queries, centroids, codebook, subspaces, subDim, nProbe)
      else Similarity.ivfPqProbeLuts(
        queries, centroids, codebook, subspaces, subDim, nProbe)
    Similarity.saltedTopK(
      Similarity.ivfPqAdcScore(snapshot, luts, subspaces),
      score = "adc_dist", ascending = true, k = k, salts = salts)
  }

  /** Top-k by ADC distance over base ∪ committed deltas for `queries`
    * = (query_id, q: array<float>), self-matches excluded —
    * [[Similarity.ivfPqKnn]]'s serving plan over the persisted index,
    * hash-identical to it over the same union. */
  def serveAll(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4, salts: Int = 32): DataFrame = {
    val (snapshot, centroids, codebook, subspaces, subDim) = openAll(spark, path)
    serveSnapshot(
      snapshot, centroids, codebook, subspaces, subDim, queries, k, nProbe, salts)
  }

  /** [[serveAll]] AS OF a committed delta epoch — historical ADC
    * top-k over the retained code snapshot; the trained state
    * (coarse centroids + residual codebook) is fixed for the life of
    * the index, so only the code segments travel. */
  def serveAsOf(
      spark: SparkSession, path: String, epoch: Long, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4, salts: Int = 32): DataFrame = {
    val (subspaces, subDim) = readMeta(spark, path)
    val (centroids, codebook) = trainedState(spark, path)
    serveSnapshot(readAsOf(spark, path, epoch), centroids, codebook,
      subspaces, subDim, queries, k, nProbe, salts)
  }

  /** COMPRESSED semantic admission probe — [[IvfIndex.probeSemantic]]
    * with the admitted embedding store held as PQ codes instead of
    * raw float32 (the store is 16–32× smaller, which is what matters
    * at 100 TB where it grows by one row per admitted doc): ADC
    * shortlists candidates inside the shard's own inverted lists
    * (nProbe = 1 — the probe ranking's rn = 1 IS the assignment, so
    * the pair law stays "same inverted list" like the uncompressed
    * stage), and ONLY the shortlisted admitted ids are exact-cosine
    * verified against `vectorSource` — the rescore pattern of
    * [[Similarity.ivfPqKnnRescore]] applied to admission.
    * `vectorSource` = (vec_id, embedding) raw floats for every
    * indexed id — in the admission loop that is the decision log
    * ([[Admission.admittedAll]]), which a deployment keeps anyway as
    * the corpus itself, so the raw floats exist ONCE, not again
    * inside the ANN store.
    *
    * Same contracts as the uncompressed probe: shard ids disjoint
    * from the index, output = (a_id, b_id, cos ≥ threshold) pairs
    * touching the shard (cross via the ADC shortlist, within-shard
    * exact), `maxList` skew cap with explicit saturation. Recall
    * through the shortlist is explicitly bounded: a true pair whose
    * ADC rank exceeds `shortlist` inside its list is missed. An
    * exact duplicate attains the per-query MINIMUM ADC distance (its
    * residual's nearest codeword IS its twin's code), so it is
    * missed only when more than `shortlist` candidates TIE at that
    * minimum (same code — real at coarse codebooks over clustered
    * corpora; size `shortlist` ≥ the expected same-code multiplicity,
    * or screen exact copies in the exact/near-dup stages first, as
    * the admission loop does by construction). Deterministic end to
    * end (ADC doubles + the (adc_dist, vec_id) total order), so the
    * DuckDB oracle replays shortlist and verify exactly.
    *
    * Scale shape: o(index) per probe — the shard's lists are
    * partition-pruned literals like [[IvfIndex.probeSemanticPlan]],
    * the ADC stage reads CODES only (the compressed representation
    * does the heavy scan), and the exact stage touches
    * O(|shard|·shortlist) rows of `vectorSource` via one broadcast
    * semi-join into a column-pruned scan. */
  def probeSemantic(
      spark: SparkSession, path: String, newVectors: DataFrame,
      vectorSource: DataFrame, threshold: Double = 0.95,
      shortlist: Int = 8, maxList: Int = 4096): DataFrame = {
    val centroids = LsmSegments.readArtifacts(spark, Seq(s"$path/centroids"))
    Storage.pinning(Similarity.ivfAssign(newVectors, centroids))(
      probeSemanticPlan(spark, path, _, vectorSource, threshold, shortlist, maxList)
        .transform(Storage.pin))
  }

  /** Pure plan builder of [[probeSemantic]] over an already-assigned,
    * materialized shard (vec_id, embedding, c_id) — factored like
    * [[IvfIndex.probeSemanticPlan]] so the pruning tree stays visible
    * to plan pins. The touched/saturated sets resolve driver-side as
    * planning-time partition-filter literals (≤ nCentroids values,
    * the DPP-literal class), exactly as documented there. */
  private[graft] def probeSemanticPlan(
      spark: SparkSession, path: String, shard: DataFrame,
      vectorSource: DataFrame, threshold: Double, shortlist: Int,
      maxList: Int = 4096, salts: Int = 32): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val (subspaces, subDim) = readMeta(spark, path)
    val (centroids, codebook) = trainedState(spark, path)
    val touched = shard.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val allSegs = readAll(spark, path)
    val saturated = allSegs.where(col("c_id").isin(touched: _*))
      .groupBy("c_id").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxList)
      .select("c_id").collect().map(_.getLong(0)).toSet
    val ok = touched.filterNot(saturated)
    val codes = allSegs.where(col("c_id").isin(ok: _*))
    val shardOk = shard.where(col("c_id").isin(ok: _*))
    val shardQ = shardOk
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // nProbe = 1: each shard vector's LUT is against ITS OWN centroid
    val luts =
      if (codebook.columns.contains("m"))
        Similarity.ivfPqLutsPerM(shardQ, centroids, codebook, subspaces, subDim, 1)
      else Similarity.ivfPqProbeLuts(shardQ, centroids, codebook, subspaces, subDim, 1)
    val short = Similarity.saltedTopK(
      Similarity.ivfPqAdcScore(codes, luts, subspaces),
      score = "adc_dist", ascending = true, k = shortlist, salts = salts)
    // exact verify of ONLY the shortlisted admitted ids: the
    // shortlist is output-sized and broadcasts into one column-pruned
    // scan of the raw vector source
    val crossPairs = vectorSource
      .select(col("vec_id"), col("embedding").as("i_v"))
      .join(broadcast(short.select(
        col("query_id").as("s_id"), col("vec_id"))), Seq("vec_id"))
      .join(broadcast(shardOk.select(
        col("vec_id").as("s_id"), col("embedding").as("s_v"))), Seq("s_id"))
      .select(
        least(col("vec_id"), col("s_id")).as("a_id"),
        greatest(col("vec_id"), col("s_id")).as("b_id"),
        cosine(col("i_v"), col("s_v")).as("cos"))
      .where(col("cos") >= threshold)
    // a shortlisted INDEXED id missing from vectorSource would vanish
    // through the inner join above — an index/decision-log mismatch
    // that must surface as an error, not as missed admission drops.
    // The check is o(shortlist): one column-pruned pass over the
    // source's id column restricted to the (broadcast) shortlisted
    // ids, then an anti-join whose BUILD side is that output-sized
    // restriction, folded to a one-row scalar guard (the repo's
    // broadcast one-row crossJoin pattern).
    val shortIds = short.select(col("vec_id")).distinct()
    val presentIds = vectorSource.select(col("vec_id"))
      .join(broadcast(shortIds), Seq("vec_id"), "left_semi")
      .distinct()
    val guard = shortIds
      .join(broadcast(presentIds), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_missing"))
      .select(when(col("n_missing") === 0, lit(true))
        .otherwise(raise_error(concat(
          lit("probeSemantic: vectorSource is missing "),
          col("n_missing").cast("string"),
          lit(" shortlisted indexed id(s) — the decision log is " +
            "incomplete relative to the code segments"))))
        .as("vector_source_complete"))
    // within-shard pairs are exact (the shard's raw vectors are in
    // hand) — identical law to the uncompressed stage
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
      .crossJoin(guard.where(col("vector_source_complete")))
      .drop("vector_source_complete")
  }
}
