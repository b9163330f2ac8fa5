package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The production ADMISSION LOOP: arriving document shards are probed
  * against a pair of durable dedup indexes, the survivors admitted,
  * and the admitted docs appended back into EVERY index store — so every
  * later shard dedups against everything admitted so far, without a
  * corpus re-scan, across process restarts. This is the gate an LLM
  * pretrain corpus actually runs at ingest time: the batch
  * `pretrainGate`/`dedup_exact`/`minhashLsh` composition served from
  * durable [[LsmSegments]] state instead of stream-local state-store
  * state. (Stateless quality/langid/decontamination gates compose
  * upstream of this loop unchanged — they need no index.)
  *
  * Three marker-last [[LsmSegments]] stores under one root `path` —
  * plus one per optional stage (SEMANTIC embeddings, PERCEPTUAL
  * signatures), up to five:
  *  - `path/admitted` — the admitted corpus (doc_id, text[, embedding
  *    when the semantic stage is on]), one delta segment per epoch.
  *    This doubles as the loop's WRITE-AHEAD DECISION LOG: the
  *    admission decision for epoch e is computed once, against index
  *    state that cannot yet contain e, and committed here FIRST —
  *    replays re-read the stored decision instead of re-deciding
  *    against indexes that may already hold the epoch's own docs
  *    (which would wrongly flag every admitted doc as a duplicate of
  *    itself);
  *  - `path/exact`   — the [[ContentHashIndex]] of admitted docs;
  *  - `path/neardup` — the [[MinHashIndex]] of admitted docs;
  *  - `path/semantic` (optional, [[init]]'s `semanticCentroids`) —
  *    the persisted [[IvfIndex]] of admitted doc EMBEDDINGS, probed
  *    with [[IvfIndex.probeSemantic]] (SemDeDup at ingest — near-dup
  *    *meanings* with zero token overlap, the gap both text stages
  *    share). Its coarse centroids are FIXED at init like the
  *    MinHash LSH parameters;
  *  - `path/perceptual` (optional, [[init]]'s `perceptual = true`) —
  *    the persisted [[HammingIndex]] of admitted PERCEPTUAL
  *    SIGNATURES (4×16-bit chunk ints — image aHash, audio
  *    energy-delta fingerprints, or any signature that fits the
  *    carriage; ONE fixed signature function for the life of the
  *    loop, per the HammingIndex contract), probed with
  *    [[HammingIndex.probePairs]] — the multimodal-crawl stage that
  *    drops perceptual re-crawls (re-encoded/resized/re-keyed assets)
  *    the text stages cannot see. Shards must then carry c0..c3
  *    columns alongside (doc_id, text), computed UPSTREAM by the
  *    loop's fixed signature function.
  *
  * ADMISSION POLICY (deterministic; the oracle replays it in SQL):
  * per shard, in arrival (epoch) order —
  *  1. exact stage: a doc is dropped if its content hash is already
  *     indexed ([[ContentHashIndex.probeNew]]), or if a smaller-id
  *     doc in the same shard shares its hash (keep-first);
  *  2. near-dup stage: among exact survivors, a doc X is dropped if a
  *     verified pair (Jaccard ≥ threshold) connects X to any indexed
  *     doc, or to any smaller-id exact-survivor of the same shard
  *     ([[MinHashIndex.probePairs]] supplies exactly these pairs).
  *     Exact-dropped docs cannot shelter a near-dup: any pair through
  *     a dropped exact copy also exists through its indexed/surviving
  *     twin (identical text ⇒ identical shingle set);
  *  3. perceptual stage (when on): among near-dup survivors, the
  *     same smaller-id-wins drop law over
  *     [[HammingIndex.probePairs]]'s hamming ≤ 3 pairs (vs the
  *     indexed signatures ∪ the surviving shard docs; 3 is the only
  *     budget the 4-chunk pigeonhole serves exhaustively, so it is
  *     fixed). The probe's SKEW CAP (`perceptualMaxBucket`, plumbed
  *     through [[admitEpoch]]/[[decide]]) is part of the policy: a
  *     (chunk, chunk_val) bucket holding more than
  *     `perceptualMaxBucket` members (index ∪ shard) saturates and
  *     contributes no pairs — deterministic (a pure function of
  *     index state + shard), but the SQL oracle models the
  *     UN-saturated regime, so verified SFs are pinned below
  *     saturation (at sf0.1 the hottest aHash chunk bucket holds 614
  *     signatures, an order under the 4096 default; run an
  *     exact-hash stage first — this loop does — so byte-identical
  *     megaclusters never reach the perceptual buckets);
  *  4. semantic stage (when on): among the survivors so far, the same
  *     smaller-id-wins drop law over [[IvfIndex.probeSemantic]]'s
  *     same-inverted-list cos ≥ `semanticThreshold` pairs (vs the
  *     indexed embeddings ∪ the surviving shard docs). Stage order is
  *     part of the policy: a doc dropped by an EARLIER stage no
  *     longer shelters or drops anyone at this one — deterministic
  *     either way, and the decision log replays it exactly. The
  *     probe's SKEW CAP (`semanticMaxList`, plumbed through
  *     [[admitEpoch]]/[[decide]]) is part of the policy too: an
  *     inverted list holding more than `semanticMaxList` INDEXED
  *     embeddings saturates and contributes no pairs — deterministic
  *     (a pure function of index state), but the SQL oracle models
  *     the UN-saturated regime, so verified SFs are pinned below
  *     saturation (at sf0.1 the largest of the 16 fixed lists holds
  *     ~hundreds of admitted embeddings, two orders under the 4096
  *     default; a deployment sizing `nCentroids` for its corpus keeps
  *     expected list size ≪ the cap for exactly this reason);
  *  5. survivors are admitted and appended into every store under
  *     the shard's epoch id.
  *
  * Crash safety (the order IS the proof): the decision commits to
  * `admitted` first; only then do the (individually idempotent,
  * marker-guarded) index appends run. A crash before the admitted
  * marker leaves the indexes untouched, so the replay re-decides
  * against pre-epoch state and gets the same answer (deterministic
  * policy, exactly-once source replay). A crash after it finds the
  * decision committed and only re-runs whichever index appends are
  * missing. Single writer per root, per the [[LsmSegments]] contract;
  * run [[compact]] in maintenance windows (it folds every store
  * — an admitted delta segment must outlive its epoch's index appends,
  * which a mid-lineage gc of a crashed epoch could violate).
  *
  * 100 TB shape: per shard the work is one fingerprint pass over the
  * SHARD, o(index) broadcast-semi-join probes against each index,
  * and one shard shuffle on the 8-byte content hash — never a scan of
  * the admitted corpus. Shard doc_ids must be globally unique (crawl
  * record ids), so shards are disjoint from the indexes by
  * construction, as [[MinHashIndex.probePairs]] requires. */
object Admission {

  private def store(path: String, which: String) = s"$path/$which"

  // dev-only stage visibility for the optimization profiles
  private def debugTime[A](tag: String)(f: => A): A =
    if (!sys.env.contains("GRAFT_ADM_DEBUG")) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[adm] $tag%-18s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

  /** Initialize all stores empty. LSH parameters are fixed for the
    * life of the loop, like any [[MinHashIndex]]; `semanticCentroids`
    * = Some((c_id, c_vec)) turns the semantic stage ON with those
    * coarse centroids fixed for the life of the loop — shards must
    * then carry an `embedding` column alongside (doc_id, text).
    *
    * `semanticCodebook` = Some((cw_k, cw) or the per-m trained form)
    * additionally selects the COMPRESSED semantic tier: the fourth
    * store becomes an [[IvfPqIndex]] holding PQ codes instead of raw
    * float32 (16–32× smaller — the store that grows fastest at
    * 100 TB, one embedding per admitted doc), probed via the
    * ADC-shortlist + exact-verify pattern
    * ([[IvfPqIndex.probeSemantic]]) with the decision log as the raw
    * vector source — the floats exist ONCE, in the corpus the
    * deployment keeps anyway. `semanticSubspaces`×`semanticSubDim`
    * must equal the embedding dimension; like the codebook itself,
    * the grid is fixed at init for the life of the loop.
    *
    * `perceptual = true` turns the PERCEPTUAL stage on: the extra
    * store is a [[HammingIndex]] of admitted signatures, and shards
    * must then carry c0..c3 INT columns (4×16-bit signature chunks
    * from ONE fixed signature function — e.g.
    * [[graft.multimodal.Multimodal.imageAHash]] or
    * [[graft.multimodal.Multimodal.audioFingerprint]] — chosen for
    * the life of the loop). */
  def init(
      spark: SparkSession, path: String, shingleN: Int = 3,
      numHashes: Int = 16, bands: Int = 8,
      semanticCentroids: Option[DataFrame] = None,
      semanticCodebook: Option[DataFrame] = None,
      semanticSubspaces: Int = 4, semanticSubDim: Int = 16,
      perceptual: Boolean = false): Unit = {
    // a codebook without centroids cannot select any semantic tier —
    // fail at init rather than silently running a loop with no
    // semantic stage (the misconfiguration would change the admission
    // policy without any signal)
    require(semanticCentroids.nonEmpty || semanticCodebook.isEmpty,
      "Admission.init: semanticCodebook given without semanticCentroids " +
        "— the compressed semantic tier needs both (centroids pick the " +
        "inverted list, the codebook encodes residuals)")
    val empty = spark.range(0)
      .select(col("id").as("doc_id"), lit("").as("text"))
    // with an optional stage on, every admitted segment carries that
    // stage's columns (the decision log feeds the index appends on
    // replay) — the empty base must carry them too, or the
    // base ∪ deltas union of [[admittedAll]] can't line up
    val withEmb =
      if (semanticCentroids.isEmpty) empty
      else empty.withColumn("embedding", lit(null).cast("array<float>"))
    val emptyAdmitted =
      if (!perceptual) withEmb
      else (0 until 4).foldLeft(withEmb)((df, c) =>
        df.withColumn(s"c$c", lit(null).cast("int")))
    LsmSegments.initBase(spark, store(path, "admitted"))(
      AdmittedLog.writeSegment(emptyAdmitted, _))
    ContentHashIndex.write(empty, store(path, "exact"))
    MinHashIndex.write(empty, store(path, "neardup"), shingleN, numHashes, bands)
    if (perceptual)
      HammingIndex.write(
        spark.range(0).select(col("id").as("doc_id"),
          lit(0).cast("int").as("c0"), lit(0).cast("int").as("c1"),
          lit(0).cast("int").as("c2"), lit(0).cast("int").as("c3")),
        store(path, "perceptual"))
    semanticCentroids.foreach { cents =>
      val emptyVecs = cents
        .select(col("c_id").as("vec_id"), col("c_vec").as("embedding"))
        .where(lit(false))
      semanticCodebook match {
        case Some(cb) if cb.columns.contains("m") =>
          IvfPqIndex.writeTrained(emptyVecs, cents, cb,
            store(path, "semantic"), semanticSubspaces, semanticSubDim)
        case Some(cb) =>
          IvfPqIndex.write(emptyVecs, cents, cb,
            store(path, "semantic"), semanticSubspaces, semanticSubDim)
        case None =>
          IvfIndex.write(emptyVecs, cents, store(path, "semantic"))
      }
    }
  }

  /** Whether this loop was initialized with the semantic stage — one
    * driver-side existence check on the fourth store's marker dir. */
  private[graft] def hasSemantic(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${store(path, "semantic")}/gens")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether the semantic stage is the COMPRESSED (PQ-coded) tier —
    * the stored codebook is what distinguishes an [[IvfPqIndex]] from
    * an [[IvfIndex]] at the same layout. */
  private[graft] def hasSemanticPq(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${store(path, "semantic")}/codebook")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether this loop was initialized with the perceptual stage —
    * same driver-side marker-dir existence check as [[hasSemantic]]. */
  private[graft] def hasPerceptual(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${store(path, "perceptual")}/gens")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The smaller-id-wins drop law shared by the near-dup and semantic
    * stages: `pairs` are oriented a < b and touch the shard — a
    * shard-side b always has a smaller-id partner (indexed or
    * in-shard) — dropped; a shard-side a with a non-shard b is paired
    * with an indexed doc — dropped. Returns the survivors, eagerly
    * materialized. */
  private def dropPaired(
      survivors: DataFrame, pairs: DataFrame): DataFrame = {
    val survivorIds = survivors.select("doc_id")
    val dropB = pairs
      .join(survivorIds, pairs("b_id") === survivorIds("doc_id"),
        "left_semi")
      .select(col("b_id").as("doc_id"))
    val dropA = pairs
      .join(survivorIds, pairs("b_id") === survivorIds("doc_id"),
        "left_anti")
      .select(col("a_id").as("doc_id"))
    survivors
      .join(broadcast(dropB.unionByName(dropA).distinct()),
        Seq("doc_id"), "left_anti")
      .transform(Storage.pin)
  }

  /** The admission decision for one shard against the CURRENT index
    * state — the pure policy, shared by the loop and its spec.
    * Returns an eagerly materialized shard-column frame (at most
    * shard-sized), which the caller owns.
    * Does NOT mutate anything. */
  private[graft] def decide(
      spark: SparkSession, path: String, shard: DataFrame,
      threshold: Double, semanticThreshold: Double = 0.95,
      semanticMaxList: Int = 4096, semanticShortlist: Int = 8,
      perceptualMaxBucket: Int = 4096): DataFrame = {
    // the shard's full column set (doc_id, text[, embedding]) rides
    // through every stage — the admitted segment IS the decision log
    // and the index appends re-read it, so it must carry everything
    // the downstream appends need
    val shardCols = shard.columns.toSeq
    // ONE scan of the shard source, materialized with its content
    // hash — every exact-stage branch (index probe, keep-first agg,
    // survivor projection) reads the checkpoint, never the source.
    // (r18 measured both ways: un-pinning saves the payload
    // round-trip only when the shard source is a cheap parquet scan
    // — the text loop gained ~0.25 s — but the embedding/codec folds
    // build the shard with a docs⋈embeddings join or a decode whose
    // SECOND evaluation costs ~2 s/query; the pin is the cheaper
    // regime for every fold that matters, so it stays.)
    val hashed = shard
      .withColumn("text_hash", xxhash64(col("text")))
      .transform(Storage.pin)
    val exactSurvivors = debugTime("exact stage")(Storage.releasing(hashed) { hashed =>
      val exactDropped = ContentHashIndex
        .probeNewPlan(spark, store(path, "exact"),
          hashed.select(col("doc_id"), col("text_hash")))
        .select("doc_id")
      // within-shard keep-first: min_by is a map-side-combinable
      // partial aggregate — one shard-sized shuffle on the 8-byte
      // hash, no per-hash window funnel
      hashed
        .groupBy("text_hash")
        .agg(min_by(struct(shardCols.map(col): _*), col("doc_id"))
          .as("first"))
        .select(shardCols.map(c => col(s"first.$c").as(c)): _*)
        .join(broadcast(exactDropped), Seq("doc_id"), "left_anti")
        .transform(Storage.pin)
    })
    // near-dup stage: pairs touching the shard, vs index ∪ shard
    // (eager, output-sized)
    val nearSurvivors = debugTime("neardup stage")(
      Storage.releasing(exactSurvivors) { survivors =>
        Storage.releasing(MinHashIndex.probePairs(
          spark, store(path, "neardup"), survivors, threshold))(
          dropPaired(survivors, _))
      })
    // perceptual stage (when on): the same drop law over the hamming
    // ≤ 3 pairs touching the shard — the signature probe is o(index)
    // and runs BEFORE the (embedding-heavy) semantic stage
    val percSurvivors =
      if (!hasPerceptual(spark, path)) nearSurvivors
      else debugTime("perceptual stage")(
        Storage.releasing(nearSurvivors) { survivors =>
          Storage.releasing(HammingIndex.probePairs(
            spark, store(path, "perceptual"),
            survivors.select(col("doc_id"),
              col("c0"), col("c1"), col("c2"), col("c3")),
            maxHamming = 3, maxBucket = perceptualMaxBucket))(
            dropPaired(survivors, _))
        })
    if (!hasSemantic(spark, path)) percSurvivors
    else debugTime("semantic stage")(Storage.releasing(percSurvivors) { percSurvivors =>
      // semantic stage: same drop law over the same-inverted-list
      // cosine pairs vs the indexed embeddings ∪ the surviving shard.
      // Compressed tier: ADC shortlist over the PQ codes, exact
      // verify only for shortlisted ids, raw floats read from the
      // decision log (which at decide time holds exactly the pre-
      // epoch admitted corpus = the indexed ids).
      val shardVecs = percSurvivors
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val pairs =
        if (hasSemanticPq(spark, path))
          IvfPqIndex.probeSemantic(
            spark, store(path, "semantic"), shardVecs,
            vectorSource = admittedAll(spark, path)
              .select(col("doc_id").as("vec_id"), col("embedding")),
            semanticThreshold, semanticShortlist, semanticMaxList)
        else IvfIndex.probeSemantic(
          spark, store(path, "semantic"), shardVecs,
          semanticThreshold, semanticMaxList)
      Storage.releasing(pairs)(dropPaired(percSurvivors, _))
    })
  }

  /** Admit one epoch: decide (or, on replay, re-read the committed
    * decision), commit the admitted segment, then append the admitted
    * docs into every index store. Idempotent under replay at every crash
    * point. Returns the admitted docs (lazy, over the stored
    * segment). */
  def admitEpoch(
      spark: SparkSession, path: String, epoch: Long, shard: DataFrame,
      threshold: Double = 0.5, semanticThreshold: Double = 0.95,
      semanticMaxList: Int = 4096, semanticShortlist: Int = 8,
      perceptualMaxBucket: Int = 4096): DataFrame = {
    val admittedPath = store(path, "admitted")
    // fail fast on a loop that was never [[init]]ed — appendEpoch
    // itself would happily commit into a half-existing store
    LsmSegments.current(spark, admittedPath)
    debugTime("wal commit")(LsmSegments.appendEpoch(spark, admittedPath, epoch) { p =>
      Storage.releasing(decide(
        spark, path, shard, threshold, semanticThreshold,
        semanticMaxList, semanticShortlist, perceptualMaxBucket))(
        AdmittedLog.writeSegment(_, p))
    })
    val admitted = LsmSegments.readArtifacts(spark, Seq(s"$admittedPath/deltas/$epoch"))
    // the per-store index appends are mutually independent (disjoint
    // store dirs, each individually idempotent and marker-guarded; the
    // crash-safety proof only orders them AFTER the admitted commit,
    // never relative to each other), so OVERLAP them: Spark happily
    // runs concurrent jobs from driver threads, and the next store's
    // append back-fills executors the previous one's job tail leaves
    // idle (guide-§2.6 shape). Sequentially these 2–4 small jobs paid
    // one full job latency each, the dominant per-epoch cost of the
    // loop at bench scale.
    val appends = Seq.newBuilder[() => Unit]
    appends += (() => ContentHashIndex.appendEpoch(
      spark, store(path, "exact"), epoch, admitted))
    appends += (() => MinHashIndex.appendEpoch(
      spark, store(path, "neardup"), epoch, admitted))
    if (hasPerceptual(spark, path))
      appends += (() => HammingIndex.appendEpoch(
        spark, store(path, "perceptual"), epoch,
        admitted.select(col("doc_id"),
          col("c0"), col("c1"), col("c2"), col("c3"))))
    if (hasSemantic(spark, path)) {
      val vecs = admitted.select(col("doc_id").as("vec_id"), col("embedding"))
      if (hasSemanticPq(spark, path))
        appends += (() => IvfPqIndex.appendEpoch(
          spark, store(path, "semantic"), epoch, vecs))
      else
        appends += (() => IvfIndex.appendEpoch(
          spark, store(path, "semantic"), epoch, vecs))
    }
    // independent appends overlap (guide §2.6); the crash-safety proof
    // only orders them AFTER the admitted commit, never relative to
    // each other — see [[Storage.runConcurrently]]
    debugTime("index appends")(Storage.runConcurrently(appends.result()))
    admitted
  }

  /** The admitted corpus: one consistent snapshot of the admitted
    * store (base ∪ committed deltas). */
  def admittedAll(spark: SparkSession, path: String): DataFrame =
    AdmittedLog.readAll(spark, store(path, "admitted"))

  /** The admitted corpus AS OF a committed epoch — the decision log's
    * prefix, served from retained generations ([[LsmSegments
    * .segmentsAsOf]]; maintenance must run with `retainGens ≥ 1` for
    * pre-fold epochs to stay auditable). With that policy EVERY
    * store's as-of snapshot equals this set at the same epoch — the
    * audit law AdmissionSpec pins — so the loop's whole history is
    * reproducible from disk without replaying any ingest. */
  def admittedAsOf(spark: SparkSession, path: String, epoch: Long): DataFrame =
    AdmittedLog.readAsOf(spark, store(path, "admitted"), epoch)

  /** Committed epochs of the admitted store (== fully decided
    * epochs). */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] =
    AdmittedLog.committedEpochs(spark, store(path, "admitted"))

  /** Maintenance: fold + retire every store. With the default
    * `retainGens = 0`, run in a window when the ingest stream is
    * stopped (see the class contract). `retainGens = 1` is the
    * IN-LOOP policy ([[graft.streaming.StreamingOps.admissionIngestStream]]'s
    * `compactEvery`): one superseded generation per store stays alive,
    * so (a) concurrent read-only consumers of [[admittedAll]] keep
    * their snapshot for a full further cycle, and (b) the most recent
    * epoch's admitted delta segment — the decision a crash-replay of
    * that epoch re-reads — always outlives at least one compaction
    * (its data is only retired once a LATER generation has folded it,
    * by which point the stream checkpoint has committed the epoch and
    * it can never replay). */
  def compact(spark: SparkSession, path: String, retainGens: Int = 0): Unit = {
    val stores = Seq(AdmittedLog -> "admitted", ContentHashIndex -> "exact",
      MinHashIndex -> "neardup") ++
      (if (hasPerceptual(spark, path)) Seq(HammingIndex -> "perceptual") else Nil) ++
      (if (!hasSemantic(spark, path)) Nil
       else if (hasSemanticPq(spark, path)) Seq(IvfPqIndex -> "semantic")
       else Seq(IvfIndex -> "semantic"))
    stores.foreach { case (index, which) =>
      index.compact(spark, store(path, which))
      index.gc(spark, store(path, which), retainGens)
    }
  }
}
