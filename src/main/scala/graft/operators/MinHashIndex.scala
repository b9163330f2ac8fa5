package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable near-duplicate (MinHash-LSH) index: the corpus persisted as
  * per-document FINGERPRINTS — the shingle set plus the per-band LSH
  * bucket hashes — maintained incrementally with the same marker-last
  * [[LsmSegments]] protocol as the ANN tiers ([[IvfIndex]] /
  * [[Sq8Index]] / [[PqIndex]] / [[BinaryIndex]]): arriving documents
  * are fingerprinted against the index's FIXED parameters (shingle
  * width, hash count, band count — stored once, like PQ's codebook)
  * and committed as delta segments; serving scans base ∪ committed
  * deltas; [[compact]] folds deltas into a new base generation swapped
  * in by a marker written last.
  *
  * This is the incremental-dedup shape a 100 TB corpus needs: adding a
  * shard costs one fingerprint pass over THE SHARD (never a corpus
  * re-scan), and [[probePairs]] answers "is anything in this new shard
  * a near-dup of anything already ingested?" touching only the LSH
  * buckets the shard collides with — o(index) work per probe.
  *
  * Determinism: shingle sets (array&lt;string&gt;) and band hashes
  * (xxhash64 longs) round-trip parquet bit-exactly, and serving
  * replays [[Dedup.minhashLsh]]'s exact bucket → pair → verify
  * pipeline over the stored fingerprints — so [[servePairs]] over any
  * base/delta split is hash-identical to the batch operator over the
  * union corpus (pinned by spec + the `dedup_minhash_delta` oracle,
  * which is [[Dedup.minhashLsh]]'s own exact all-pairs Jaccard SQL).
  *
  * Layout: `<path>/meta.json` = (shingle_n, num_hashes, bands),
  * plus [[LsmSegments]] base/delta segments of
  * `(doc_id, sh: array<string>, band_hashes: array<long>)` — the
  * array index of `band_hashes` IS the band id. Reference behavior
  * anchored on the same dedup contract as the batch operator
  * (`/root/reference` has no dedup; this is §2.3 extension surface).
  */
object MinHashIndex extends SegmentedIndex {

  private def readMeta(spark: SparkSession, path: String): (Int, Int, Int) = {
    val m = LsmSegments.readMeta(spark, path)
    (m("shingle_n"), m("num_hashes"), m("bands"))
  }

  /** One fingerprint row per document with ≥ 1 shingle: the exact
    * shingle set (verification payload) and the per-band bucket hashes
    * (candidate-generation payload). Both expressions are the batch
    * operator's own, evaluated in ONE narrow pass — zero shuffle. */
  private[graft] def fingerprints(
      documents: DataFrame, shingleN: Int, numHashes: Int,
      bands: Int): DataFrame =
    documents
      .select(
        col("doc_id"),
        graft.functions.ShingleSet(col("text"), shingleN).as("sh"),
        graft.functions.MinHashSignature(col("text"), shingleN, numHashes)
          .as("signature"))
      .where(col("signature").isNotNull)
      .select(col("doc_id"), col("sh"),
        Dedup.bandHashes(col("signature"), numHashes, bands).as("band_hashes"))

  /** Persist the LSH parameters and fingerprint `documents`
    * (doc_id, text) as base generation 0. The parameters are FIXED for
    * the life of the index — changing the banding means a new index,
    * exactly like retraining IVF centroids. */
  def write(
      documents: DataFrame, path: String, shingleN: Int = 3,
      numHashes: Int = 16, bands: Int = 8): Unit = {
    val spark = documents.sparkSession
    // the base fingerprints use the PASSED parameters, not the stored
    // meta — the two init writes are independent, overlapped (guide
    // §2.6); the gen marker lands after both settle
    initBase(spark, path, Seq(
      () => LsmSegments.writeMeta(spark, path,
        Map("shingle_n" -> shingleN, "num_hashes" -> numHashes, "bands" -> bands))))(
      fingerprints(documents, shingleN, numHashes, bands))
  }

  /** Fingerprint an epoch of documents against the STORED parameters. */
  protected def encode(spark: SparkSession, path: String, documents: DataFrame): DataFrame = {
    val (shingleN, numHashes, bands) = readMeta(spark, path)
    fingerprints(documents, shingleN, numHashes, bands)
  }

  /** (doc_id, band, band_hash) rows — the stored banding unpacked;
    * scans only the 8-longs-per-doc `band_hashes` column (parquet
    * column pruning), never the shingle sets. */
  private def banded(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), posexplode(col("band_hashes")))
      .toDF("doc_id", "band", "band_hash")

  /** [[servePairs]] AS OF a committed delta epoch — the verified
    * near-dup decision set exactly as it stood when that epoch
    * landed, served from retained generations without replaying any
    * ingest. */
  def servePairsAsOf(
      spark: SparkSession, path: String, epoch: Long,
      threshold: Double = 0.5): DataFrame =
    pairsOver(readAsOf(spark, path, epoch), threshold)

  /** All verified near-dup pairs over the indexed corpus —
    * [[Dedup.minhashLsh]]'s bucket → capped pair expansion → exact
    * shingle-Jaccard pipeline, replayed over base ∪ deltas: one
    * shuffle on (band, band_hash) of the banding rows, one join of the
    * capped candidate pairs against the stored sets. Bit-identical to
    * the batch operator over the union corpus. */
  def servePairs(
      spark: SparkSession, path: String,
      threshold: Double = 0.5): DataFrame =
    pairsOver(readAll(spark, path), threshold)

  /** The pair law over an already-resolved snapshot — shared by the
    * live and as-of serves. */
  private def pairsOver(fp: DataFrame, threshold: Double): DataFrame = {
    val buckets = banded(fp)
      .groupBy("band", "band_hash")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")) between (2, Dedup.MAX_BUCKET))
    val pairs = buckets
      .select(explode(Dedup.pairCombinations(col("ids"))).as("p"))
      .select(col("p").getItem(0).as("a_id"), col("p").getItem(1).as("b_id"))
      .distinct()
    Dedup.verifyJaccardSets(pairs,
        fp.select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh")))
      .where(col("jaccard") >= threshold)
  }

  /** Near-dup pairs TOUCHING a new shard — the admission check: every
    * verified pair (a < b) with at least one side in `newDocuments`
    * (which must be disjoint from the index), against the indexed
    * corpus ∪ the shard. Equals the batch operator over the union
    * corpus restricted to pairs touching the shard (same buckets, same
    * `MAX_BUCKET` cap — a bucket containing a shard doc is recovered
    * with its FULL membership, so cap and pairing see exactly what the
    * batch job sees; a bucket without one can only produce pairs the
    * restriction drops).
    *
    * o(index) work: the index's banding rows are semi-joined against
    * the shard's broadcast bucket keys BEFORE any shuffle, so only
    * colliding buckets move; the verify join prunes the stored sets to
    * the candidate ids the same way. The shard is fingerprinted
    * exactly ONCE: the probe plan consumes the fingerprints on three
    * branches (bucket keys / banding union / verify sets), Spark plan
    * branches never share work, and column pruning specializes each
    * branch's scan so an exchange can't be reused either — so the
    * fingerprints are an eager localCheckpoint released before return,
    * and the RESULT comes back eagerly materialized (it is
    * output-sized: the near-dup pairs touching the shard). */
  def probePairs(
      spark: SparkSession, path: String, newDocuments: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val (shingleN, numHashes, bands) = readMeta(spark, path)
    Storage.releasing(fingerprints(newDocuments, shingleN, numHashes, bands)
        .localCheckpoint(eager = true))(
      probePairsPlan(spark, path, _, threshold).localCheckpoint(eager = true))
  }

  /** The pure probe plan over ALREADY-MATERIALIZED shard fingerprints
    * — factored out of [[probePairs]] (whose localCheckpointed result
    * hides the join structure behind a LogicalRDD scan) so plan-shape
    * tests can pin the broadcast-semi-join pruning. `newFp` is
    * referenced on three plan branches: pass a checkpointed/persisted
    * frame or the fingerprinting runs three times. */
  private[graft] def probePairsPlan(
      spark: SparkSession, path: String, newFp: DataFrame,
      threshold: Double): DataFrame = {
    val indexFp = readAll(spark, path)
    val newBanded = banded(newFp).withColumn("is_new", lit(true))
    val keys = newBanded.select("band", "band_hash").distinct()
    val touched = banded(indexFp)
      .join(broadcast(keys), Seq("band", "band_hash"), "left_semi")
      .withColumn("is_new", lit(false))
    // members sort/pair by their FIRST struct field (doc_id), so the
    // a < b orientation matches the plain-id expansion exactly
    val pairs = touched.unionByName(newBanded)
      .groupBy("band", "band_hash")
      .agg(collect_list(struct(col("doc_id"), col("is_new"))).as("members"))
      .where(size(col("members")) between (2, Dedup.MAX_BUCKET))
      .select(explode(Dedup.pairCombinations(col("members"))).as("p"))
      .where(col("p").getItem(0).getField("is_new") ||
        col("p").getItem(1).getField("is_new"))
      .select(
        col("p").getItem(0).getField("doc_id").as("a_id"),
        col("p").getItem(1).getField("doc_id").as("b_id"))
      .distinct()
    val candidateIds = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val sets = indexFp.select(col("doc_id"), col("sh"))
      .join(broadcast(candidateIds), Seq("doc_id"), "left_semi")
      .unionByName(newFp.select(col("doc_id"), col("sh")))
      .withColumn("n_sh", size(col("sh")))
    Dedup.verifyJaccardSets(pairs, sets)
      .where(col("jaccard") >= threshold)
  }
}
