package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline surface (SURVEY.md §2.3). Four families:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (100 TB): every variant is blocking-based — no
  * all-pairs cross join anywhere. Exact dedup is one hash aggregation;
  * MinHash/SimHash pair generation goes through band buckets
  * (`groupBy(band, key)`), so shuffle volume is O(docs × bands), and
  * candidate verification only touches colliding pairs. Skewed buckets
  * (e.g. boilerplate documents) are capped via `MAX_BUCKET`.
  */
object Dedup {

  /** Exact duplicate groups by full-text hash aggregation: one shuffle
    * on xxhash64(text) — the canonical group key is cheap to compare
    * and skew-resistant vs. grouping on the raw text bytes. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(xxhash64(col("text")).as("text_hash"))
      .agg(
        min("doc_id").as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Exact dedup keyed on a normalized form (lowercase, collapsed
    * whitespace) — catches trivially-reformatted duplicates. Groups on
    * the 64-bit hash of the normalized text, not the text itself: the
    * shuffle carries 8-byte keys instead of kilobyte documents. */
  def exactNormalized(documents: DataFrame): DataFrame =
    documents
      .withColumn("norm_hash",
        xxhash64(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .groupBy(col("norm_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")

  // skew cap: ignore degenerate LSH buckets (shared with the streaming
  // form in graft.streaming.StreamingOps, which caps bucket STATE at
  // the same bound)
  private[graft] val MAX_BUCKET = 64

  /** MinHash signature per document, computed in ONE narrow pass by
    * the [[graft.functions.MinHashSignature]] expression — zero
    * shuffle for the signature stage (the aggregation form below
    * shuffles docs × shingles rows). Documents with no shingles are
    * dropped, matching the aggregation form. */
  def minhashSignatures(documents: DataFrame, shingleN: Int, numHashes: Int): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.MinHashSignature(col("text"), shingleN, numHashes).as("signature"))
      .where(col("signature").isNotNull)

  /** Reference formulation of [[minhashSignatures]] via explode +
    * per-seed MIN aggregation — kept for the bit-parity spec. */
  def minhashSignaturesAgg(documents: DataFrame, shingleN: Int, numHashes: Int): DataFrame = {
    val sh = documents
      .select(col("doc_id"), explode(shingleSet(col("text"), shingleN)).as("shingle"))
      .select(
        col("doc_id"),
        transform(
          sequence(lit(0), lit(numHashes - 1)),
          i => xxhash64(col("shingle"), i)).as("hs"))
    val mins = (0 until numHashes).map(i => min(element_at(col("hs"), i + 1)).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"))
  }

  /** The per-band bucket hashes of one MinHash signature, as an array
    * whose index IS the band id — the one banding expression shared by
    * the batch [[minhashLsh]], the streaming gate, and the persisted
    * [[MinHashIndex]] (longs round-trip parquet exactly, so the stored
    * and recomputed bandings are bit-identical). */
  private[graft] def bandHashes(signature: Column, numHashes: Int, bands: Int): Column = {
    val rowsPerBand = numHashes / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))))
  }

  /** LSH banding: split the signature into `bands` bands, bucket-join
    * docs whose band hashes collide, emit candidate pairs (a < b),
    * then verify candidates with true shingle-set Jaccard and keep
    * pairs >= `threshold`.
    */
  def minhashLsh(
      documents: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8, // 8 bands × 2 rows: P(miss | J=0.9) ≈ (1-J²)^8 ≈ 4e-6

      threshold: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(documents, shingleN, numHashes)
    val banded = sigs.select(
      col("doc_id"),
      posexplode(bandHashes(col("signature"), numHashes, bands)))
      .toDF("doc_id", "band", "band_hash")
    val buckets = banded
      .groupBy("band", "band_hash")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")) between (2, MAX_BUCKET))
    val pairs = buckets
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p").getItem(0).as("a_id"), col("p").getItem(1).as("b_id"))
      .distinct()
    verifyJaccard(pairs, documents, shingleN)
      .where(col("jaccard") >= threshold)
  }

  /** All unordered pairs (a < b) from a bucket's id list, as an array
    * expression (buckets are capped, so this is small per row). Sorts
    * by the element's natural order — for struct elements that is the
    * FIRST field, so tagged members (doc_id first) pair in the same
    * a < b orientation as plain ids. */
  private[operators] def pairCombinations(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + 2, size(sorted)), b => array(a, b))))
  }

  /** Exact Jaccard for given candidate pairs via shingle-set overlap.
    * The per-doc set relation appears ONCE in the plan: each pair is
    * unpivoted to its two member ids, joined against the sets a single
    * time, and regrouped per pair — a two-branch (a-side / b-side)
    * join would recompute the expensive shingling once per branch
    * (Spark plan branches don't share work), or require a persist that
    * this operator would have no safe point to release. */
  def verifyJaccard(pairs: DataFrame, documents: DataFrame, shingleN: Int): DataFrame = {
    // n_sh derives from the ALIASED set in a second projection:
    // ShingleSet is CodegenFallback (no codegen subexpression
    // elimination), and CollapseProject refuses to inline a non-cheap
    // producer referenced twice — so the shingling runs once per row,
    // not once per referencing column
    val sets = documents
      .select(
        col("doc_id"),
        graft.functions.ShingleSet(col("text"), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    verifyJaccardSets(pairs, sets)
  }

  /** [[verifyJaccard]] over PRECOMPUTED shingle sets `(doc_id, sh,
    * n_sh)` — the form the persisted [[MinHashIndex]] serves from
    * (its segments store the sets, so verification never re-reads the
    * corpus). Same single-join plan: each pair unpivots to its two
    * member ids and meets the set relation exactly once. */
  private[graft] def verifyJaccardSets(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val sides = pairs.select(
      col("a_id"), col("b_id"),
      explode(array(col("a_id"), col("b_id"))).as("doc_id"))
    // exactly one row per (pair, side) ⇒ the ignore-null firsts are
    // deterministic despite unordered aggregation
    sides.join(sets, "doc_id")
      .groupBy("a_id", "b_id")
      .agg(
        first(when(col("doc_id") === col("a_id"), col("sh")), ignoreNulls = true).as("a_sh"),
        first(when(col("doc_id") === col("a_id"), col("n_sh")), ignoreNulls = true).as("a_n"),
        first(when(col("doc_id") === col("b_id"), col("sh")), ignoreNulls = true).as("b_sh"),
        first(when(col("doc_id") === col("b_id"), col("n_sh")), ignoreNulls = true).as("b_n"))
      // a pair id absent from `documents` loses that side entirely —
      // drop it, matching the inner-join semantics of the old
      // two-branch formulation (no phantom null-jaccard rows)
      .where(col("a_sh").isNotNull && col("b_sh").isNotNull)
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .select(
        col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_n") + col("b_n") - col("inter")).cast("double")).as("jaccard"))
  }

  /** 64-bit SimHash per document: per-token xxhash64, each bit votes
    * +1/-1 weighted by token frequency; the signature is the sign
    * vector. One narrow pass via [[graft.functions.SimHash64]] — no
    * explode, no 64-column aggregation, no shuffle. */
  def simhashSignatures(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.SimHash64(col("text")).as("simhash"))

  /** Reference formulation of [[simhashSignatures]] (explode + 64 sum
    * aggregates) — kept for the bit-parity spec. */
  def simhashSignaturesAgg(documents: DataFrame): DataFrame = {
    val toks = documents.select(
      col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitVotes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    toks.groupBy("doc_id")
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(
        col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** SimHash near-dup pairs: block on 16-bit chunks (a pair within
    * hamming distance <= 3 of a 64-bit hash must agree exactly on at
    * least one of 4 chunks — pigeonhole), then verify hamming distance.
    * Single-pass bucket shape: signatures are computed once and
    * bucketed by (chunk, value); pairs come out of bucket combinations
    * (no self-join, no signature recompute per branch).
    *
    * Bucket fan-out is deliberately NOT capped: unlike the
    * probabilistic LSH paths, this operator's contract is exhaustive
    * (every pair within the hamming budget), and a giant bucket of
    * identical documents is O(k²) *required output*, not noise. At
    * scale, run [[exact]]/[[exactNormalized]] FIRST — byte-identical
    * megaclusters collapse there, and what reaches simhash has
    * bounded per-bucket multiplicity. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    // the 64-bit signature splits into the same 4×16-bit chunk shape
    // the md5 variant uses (Σ chunk-XOR popcounts = full-XOR popcount),
    // so both SimHash paths share ONE blocking/hamming implementation
    chunkPairs(
      simhashSignatures(documents).select(
        col("doc_id") +: (0 until 4).map(c =>
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))
            .cast("int").as(s"c$c")): _*),
      maxHamming)

  /** SimHash near-dup pairs whose per-token bits come from md5 — the
    * oracle-parity variant of [[simhashPairs]]: md5 is byte-identical
    * in every engine, so a SQL oracle (DuckDB) reproduces tokenize →
    * md5-nibble bits → frequency-weighted bit votes → sign vector →
    * hamming pairs end-to-end and the WHOLE pipeline is hash-verified,
    * not just row-counted. Signatures come from the single-pass
    * [[graft.functions.Md5SimHash64]] kernel (zero-shuffle, same scale
    * story as [[simhashPairs]]); the explode + 64-vote-sum formulation
    * the oracle mirrors is kept as [[simhashSignaturesMd5Agg]] with a
    * bit-parity spec.
    *
    * The 64-bit signature is carried as 4×16-bit chunk ints (c0..c3,
    * c0 = bits 0-15): no unsigned-64 / sign-bit traps in engines
    * without a uint64, and the chunks double as the pigeonhole
    * blocking keys (hamming <= 3 forces agreement on >= 1 chunk).
    * Same bucket shape as [[simhashPairs]]: signatures computed once,
    * pairs out of bucket combinations, exhaustive by construction. */
  def simhashPairsMd5(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    chunkPairs(simhashSignaturesMd5(documents), maxHamming)

  /** Signatures for [[simhashPairsMd5]] in ONE narrow pass via the
    * [[graft.functions.Md5SimHash64]] kernel — zero shuffle for the
    * signature stage — emitted as 4×16-bit chunk ints. */
  def simhashSignaturesMd5(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), graft.functions.Md5SimHash64(col("text")).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until 4).map(c =>
        shiftrightunsigned(col("sig"), c * 16).bitwiseAND(lit(0xffffL))
          .cast("int").as(s"c$c")): _*)

  /** Reference formulation of [[simhashSignaturesMd5]] via explode +
    * 64 bit-vote sums — kept for the bit-parity spec (and it is the
    * formulation the DuckDB oracle mirrors line-for-line). */
  def simhashSignaturesMd5Agg(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) > 0)
      .withColumn("h", md5(col("tok")))
    // bit j of a token = bit (j mod 4) of hex nibble (j div 4) of md5
    val bitVotes = (0 until 64).map { j =>
      val nib = conv(substring(col("h"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, j % 4).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    toks.groupBy("doc_id")
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id") +: (0 until 4).map { c =>
        (0 until 16).map { b =>
          when(col(s"b${c * 16 + b}") > 0, lit(1 << b)).otherwise(lit(0))
        }.reduce(_ + _).as(s"c$c")
      }: _*)
  }

  /** Chunk-blocked hamming pairs over (doc_id, c0..c3) signatures —
    * the shared tail of the md5 SimHash paths and the multimodal
    * perceptual-hash dedup ([[graft.multimodal.Multimodal.imageNearDupPairs]]):
    * any 64-bit signature carried as 4×16-bit chunks gets the same
    * exhaustive pigeonhole blocking (`maxHamming` ≤ 3 asserted — 4
    * chunks make the blocking exhaustive only up to 3 flipped bits;
    * a larger budget would silently return a PARTIAL pair set, so it
    * fails loudly instead).
    *
    * `maxBucket` is the SKEW CAP ([[minhashLsh]]'s `MAX_BUCKET`
    * contract): a (chunk, chunk_val) bucket holding more than
    * `maxBucket` signatures saturates and contributes NO pairs —
    * dropped whole, never a partial pair set — because one hot bucket
    * (solid-color / near-white images collapse to a handful of aHash
    * chunk values in real crawls) is otherwise a single-task O(n²)
    * `collect_list` blow-up at corpus scale. The default is UNCAPPED
    * (exhaustive — the oracle contract; verified SFs are pinned below
    * any cap a deployment would set); byte-identical megaclusters
    * belong to an exact-hash stage run first, and a deployment sizes
    * `maxBucket` as its residual-skew circuit breaker. Deterministic
    * either way — saturation is a pure function of the signature
    * relation, which is what keeps the capped law SQL-oracle-able
    * (see the `mm_neardup_capped` query). */
  private[graft] def hammingChunkPairs(
      sigs: DataFrame, maxHamming: Int,
      maxBucket: Int = Int.MaxValue): DataFrame =
    chunkPairs(sigs, maxHamming, maxBucket)

  private def chunkPairs(
      sigs: DataFrame, maxHamming: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"chunkPairs: hamming budget $maxHamming breaks the 4-chunk " +
        "pigeonhole (exhaustive blocking needs maxHamming + 1 <= chunks)")
    require(maxBucket >= 2,
      s"chunkPairs: maxBucket $maxBucket can admit no pairs at all")
    val chunked = sigs.select(
      col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .toDF("doc_id", "c0", "c1", "c2", "c3", "chunk", "chunk_val")
    val buckets = chunked
      .groupBy("chunk", "chunk_val")
      .agg(collect_list(struct(
        col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    val sorted = array_sort(col("ids"))
    val pairs = flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + 2, size(sorted)),
        b => struct(a.as("a"), b.as("b")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
        (0 until 4).map(c =>
          bit_count(col(s"p.a.c$c").bitwiseXOR(col(s"p.b.c$c"))))
          .reduce(_ + _).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair graph: every document
    * that appears in a pair gets the MINIMUM doc_id of its component
    * as `cluster_id` — the canonical-survivor assignment that turns
    * pairwise dedup output into per-cluster keep/drop decisions.
    *
    * Driver-coordinated min-label propagation WITH pointer jumping:
    * each round a node takes the minimum of (its label, its
    * in-neighbors' labels, its label's label). The jump halves the
    * remaining distance to the component minimum only when ids grow
    * along a path; on a chain whose ids are shuffled it does not, and
    * such a chain can need more rounds than the budget (a replay of
    * this rule took 26–41 rounds on 80-node shuffled-id paths, over
    * the default 20). The loop then FAILS LOUDLY rather than returning
    * silently-wrong labels. The O(log n)-round replacement (FastSV) is
    * ROADMAP direction 1. Every round's action is a distributed
    * aggregation — nothing is collected to the driver.
    *
    * Storage: the rounds run in [[Storage.rounds]] (each round
    * checkpointed, the superseded one released), and the edge relation
    * is released when the loop ends. Only the returned label frame
    * stays cached — localCheckpoint truncates lineage, so the result's
    * blocks must outlive the call.
    *
    * Round plan: [[Graph.broadcastStateRows]] picks it from the
    * measured label count, and [[Graph.regimeEdges]] lays the edge
    * relation out for it — the same threshold and prelude as the graph
    * iteratives. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"connectedComponents: maxIter must be >= 1, got $maxIter")
    // both directions in ONE pass (a unionAll of two projections
    // would re-run the upstream pair generation per branch) into the
    // CACHED raw relation of [[Graph.regimeEdges]] — the upstream pair
    // generation is read exactly once no matter which round plan runs
    // below. |V|, the labels pin's own count, picks the round plan.
    val (smallGraph, edges, labels, nV) = Graph.regimeEdges(pairs
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))(raw =>
      Storage.pinCounted(raw.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id"))), Storage.unpersistLocalCheckpoint)
    var it = 0
    // the convergence probe, over the checkpointed round
    def converged(next: DataFrame): Boolean = {
      val done = next.where(col("cluster_id") =!= col("prev")).isEmpty
      it += 1
      // dev-only round visibility for the optimization profiles
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc] round $it converged=$done")
      require(done || it < maxIter,
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
      done
    }
    try Storage.rounds(labels, if (nV == 0L) 0 else maxIter, done = converged) { prev =>
      val labels = prev.select("doc_id", "cluster_id")
      if (smallGraph) {
        // BROADCAST round plan (guide §3.1: broadcast the side that
        // fits): the |V|-row label state ships to the executors and
        // the round is ONE stage over the dst-partitioned edges —
        // in-neighbor min (partial+final agg with no exchange), own
        // label merge, pointer jump, all via broadcast joins. Every
        // node appears as a dst (both directions were emitted), so
        // the aggregation covers the full label domain.
        val inMin = edges
          .join(broadcast(labels), edges("src") === labels("doc_id"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min("cluster_id").as("nbr_min"))
        val own = inMin
          .join(broadcast(labels.select(col("doc_id").as("o_id"),
            col("cluster_id").as("own"))), col("doc_id") === col("o_id"))
          .select(col("doc_id"),
            least(col("nbr_min"), col("own")).as("cluster_id"),
            col("own").as("prev"))
        own
          .join(broadcast(labels.select(col("doc_id").as("p_id"),
            col("cluster_id").as("p_label"))),
            own("cluster_id") === col("p_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("p_label"), col("cluster_id")))
              .as("cluster_id"),
            col("prev"))
      } else {
        // SHUFFLE round plan (the 100 TB regime): only the |V|-row
        // label state moves; the edge relation streams through the
        // shuffle_hash join with no re-exchange. Each doc
        // contributes exactly one row from the labels branch, so
        // min(prev) recovers its previous label through the
        // aggregation — the convergence test then reads straight
        // off the checkpointed result.
        val propagated = edges
          .join(labels.hint("shuffle_hash"), edges("src") === labels("doc_id"))
          .select(col("dst").as("doc_id"), col("cluster_id"),
            lit(null).cast("long").as("prev"))
          .unionAll(labels.select(
            col("doc_id"), col("cluster_id"), col("cluster_id").as("prev")))
          .groupBy("doc_id").agg(
            min("cluster_id").as("cluster_id"), min("prev").as("prev"))
        // pointer jump: follow my label to ITS label (labels are doc
        // ids, so every label row exists in the labels relation)
        propagated
          .join(labels.select(col("doc_id").as("p_id"), col("cluster_id").as("p_label")),
            propagated("cluster_id") === col("p_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("p_label"), col("cluster_id")))
              .as("cluster_id"),
            col("prev"))
      }
    }.select("doc_id", "cluster_id")
    finally Storage.uncache(edges)
  }

  /** Canonical-survivor selection — the decision step that turns a
    * near-dup pair list into per-cluster keep/drop actions: label
    * components via [[connectedComponents]], then keep ONE member per
    * cluster — the highest [[TextFunctions.qualityScore]], ties to
    * the lowest doc_id. The tie-break rides inside the max_by key as
    * a lexicographic (quality, -doc_id) struct, so the pick is
    * deterministic and map-side-combinable — no window over the
    * corpus, and only clustered docs join the quality column. */
  def keepBest(pairs: DataFrame, documents: DataFrame): DataFrame =
    connectedComponents(pairs)
      .join(documents.select(col("doc_id"), qualityScore(col("text")).as("quality")), "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max_by(
          struct(col("doc_id"), col("quality")),
          struct(col("quality"), -col("doc_id"))).as("best"))
      .select(
        col("cluster_id"), col("best.doc_id").as("keep_doc_id"),
        col("n_members"), col("best.quality").as("best_quality"))

  /** (doc, shingle) inverted index with per-doc set size. The size
    * derives from the ALIASED set in a second projection before the
    * explode: `size(sh)` inline next to `explode(sh)` would evaluate
    * the shingling twice per row (ShingleSet is CodegenFallback — no
    * codegen subexpression elimination — and CollapseProject refuses
    * to inline a non-cheap producer referenced twice, which is exactly
    * what keeps the two-projection form single-evaluation). This shape
    * needs NO shuffle at all — the earlier `count() over (partition by
    * doc_id)` formulation reshuffled the entire inverted index just to
    * recover a size the array already knew. */
  private def shingleIndex(documents: DataFrame, shingleN: Int): DataFrame =
    documents.select(
      col("doc_id"), col("lang"),
      (col("n_chars") / lit(200)).cast("long").as("len_band"),
      graft.functions.ShingleSet(col("text"), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .select(col("doc_id"), col("lang"), col("len_band"), col("n_sh"),
        explode(col("sh")).as("shingle"))

  /** Per-pair intersection counts from an inverted shingle index, in
    * ONE pass: bucket by shingle (plus any extra blocking columns —
    * a single shuffle), emit each bucket's doc pairs, count per pair.
    * A self-join formulation would compute the (expensive) shingle
    * index once per join branch — Spark plan branches do not share
    * work — and shuffle it twice; this shape computes and shuffles it
    * exactly once. Bucket pair fan-out is O(df²) per shingle, so
    * shingle width must keep df small (see [[ngramJaccard]]). */
  private def pairIntersections(inv: DataFrame, blockCols: Seq[String]): DataFrame = {
    val buckets = inv
      .groupBy("shingle", blockCols: _*)
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ids"))
      .where(size(col("ids")) >= 2)
    val sorted = array_sort(col("ids"))
    val pairs = flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + 2, size(sorted)),
        b => struct(a.as("a"), b.as("b")))))
    buckets.select(explode(pairs).as("p"))
      .select(
        col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
        col("p.a.n_sh").as("a_n"), col("p.b.n_sh").as("b_n"))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("inter"))
  }

  /** Exact n-gram Jaccard dedup via an inverted shingle index: bucket
    * docs by (shingle, lang, length-band), count shared shingles per
    * doc pair — intersections are counted directly, no separate
    * verification pass. Pair cost is Σ df(shingle)², so with
    * wide-enough shingles (df ≈ 1 for everything but true dups) this
    * is near-linear in corpus size. For corpora with pathologically
    * skewed shingle frequency use [[ngramJaccardPrefix]]. Output is
    * the exact brute-force definition (the DuckDB oracle recomputes
    * it from first principles). */
  def ngramJaccard(
      documents: DataFrame,
      shingleN: Int = 5,
      threshold: Double = 0.35): DataFrame =
    pairIntersections(shingleIndex(documents, shingleN), Seq("lang", "len_band"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("a_n") + col("b_n") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Asymmetric near-dup: n-gram containment C(A,B) =
    * |A ∩ B| / min(|A|, |B|) — catches a short document wholly
    * embedded in a longer one, a case symmetric Jaccard dilutes below
    * any usable threshold (J ≤ |A|/|B| however perfect the overlap).
    * Same single-shuffle inverted-index shape as [[ngramJaccard]], but
    * deliberately WITHOUT the (lang, length-band) blocking: length
    * blocking is exactly what containment must not assume (the whole
    * point is pairs of very different sizes), so buckets key on the
    * shingle alone and the output is the exact brute-force definition.
    * Docs with no shingles (shorter than n tokens) have no containment
    * relation and are absent, as in the oracle. */
  def ngramContainment(
      documents: DataFrame,
      shingleN: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val inv = documents
      .select(
        col("doc_id"),
        graft.functions.ShingleSet(col("text"), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("shingle"))
    pairIntersections(inv, Seq.empty)
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("a_n"), col("b_n")).cast("double"))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
  }

  /** Chunk-level exact dedup — the paragraph / exact-substring dedup
    * of C4/RefinedWeb-style pipelines, expressed over the testdata's
    * single-line documents by treating every non-overlapping run of
    * `chunkTokens` tokens as one "paragraph". The corpus-wide FIRST
    * occurrence of each distinct chunk (ordered by doc_id, then chunk
    * position) survives; every document is then reassembled from its
    * surviving chunks in order. Documents whose every chunk appeared
    * earlier vanish entirely, as in line-level dedup of a crawl.
    *
    * Scale shape: chunking is row-local (`transform` over a sequence —
    * zero shuffle); first-occurrence is `min(struct(doc_id, pos))` per
    * chunk — a map-side-combinable aggregation, NOT a window over the
    * chunk key, so a boilerplate chunk repeated across the corpus
    * combines to one row per map task instead of funnelling through a
    * single window partition; reassembly is one more combinable
    * aggregation on doc_id. Two skew-proof shuffles total. */
  def chunkDedup(documents: DataFrame, chunkTokens: Int = 10): DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunks = documents
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          c => array_join(slice(toks, c * chunkTokens + 1, lit(chunkTokens)), " "))))
      .toDF("doc_id", "chunk_idx", "chunk")
    val survivors = chunks
      .groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.chunk_idx").as("chunk_idx"),
        col("chunk"))
    survivors
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x.getField("chunk")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
      .select("doc_id", "clean_text", "n_kept")
  }

  /** Exact duplicated-SPAN detection — the token-granular substring
    * dedup of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., 2022), which removes repeated passages that
    * doc- and chunk-level dedup both miss (chunk dedup only catches
    * duplication aligned to chunk boundaries). Every length-`W` token
    * window (stride 1) that occurs more than once ANYWHERE in the
    * corpus — including twice within one document — marks its
    * positions as duplicated; overlapping/touching marked windows per
    * document merge into maximal spans `(doc_id, span_start,
    * span_end)` (token indices, end exclusive). A full suffix array
    * finds spans ≥ W exactly the same way — the sliding window is the
    * relational formulation of the same ≥W-gram duplication predicate.
    *
    * Scale shape: window generation is row-local (transform over a
    * sequence, then posexplode — the stream is ~one row per token);
    * the duplication test is a map-side-combinable count per window
    * joined back on the window key (NOT `count over (partition by
    * win)` — a boilerplate window repeated across millions of
    * documents would funnel its whole postings list through one
    * window task, while a skewed JOIN partition is AQE-splittable;
    * same discipline as [[ngramJaccardPrefix]], and like there the
    * occurrence branch re-runs the explode — plan branches don't
    * share — which is one extra linear map-side pass). Interval
    * merging is per-document windows (bounded by document length).
    * The window key here is the literal W-token string for exact
    * oracle parity; at 100 TB key on a 128-bit hash of it
    * (`md5`-style, the repo's SimHash kernel pattern) so the shuffle
    * carries 16-byte keys — collision-free in practice and ~4× less
    * shuffle volume. */
  def spanDedup(documents: DataFrame, windowTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = windowTokens
    val toks = split(col("text"), " ")
    // docs shorter than W yield no windows; the guard also keeps
    // sequence() away from the (0, negative) range, where Spark would
    // infer step -1 and emit a bogus [0, -1] descent
    val occ = documents
      .where(size(toks) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(toks) - W),
          i => array_join(slice(toks, i + 1, lit(W)), " "))))
      .toDF("doc_id", "pos", "win")
    val dupWins = occ.groupBy("win")
      .agg(count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select("win")
    // hash build on the (small) duplicated-window side: SMJ would sort
    // the whole occurrence stream by window string
    val dup = occ.join(dupWins.hint("shuffle_hash"), "win")
      .select("doc_id", "pos")
    // gaps-and-islands merge: a window starts a new span iff its
    // start lies past every previous window's end (running max)
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("st",
        when(col("pos") > coalesce(max(col("pos") + W).over(wPrev), lit(-1)),
          lit(1)).otherwise(lit(0)))
      .withColumn("g", sum(col("st")).over(wRun))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + W).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_tokens"))
  }

  /** Duplicated-span REMOVAL — [[spanDedup]]'s detection followed by
    * the actual rewrite step of Lee et al. 2022: the corpus-FIRST
    * occurrence (min (doc_id, pos)) of every duplicated window
    * survives; a token is dropped iff every duplicated window
    * covering it is a non-surviving occurrence (a token under any
    * surviving occurrence — or under no duplicated window — stays).
    * Within-document repetition keeps the first copy. Every document
    * round-trips: unchanged docs return their full text, fully-dropped
    * docs return `clean_text = ""`.
    *
    * Scale shape: the window stream and duplication test are
    * [[spanDedup]]'s (row-local generation, combinable count + first-
    * occurrence min-struct per window key, AQE-splittable join back —
    * never a window function over the window key). Only DUPLICATED
    * occurrences explode to covered token positions (W rows each — the
    * duplicated fraction of the corpus, not all of it); the drop-set
    * folds to ONE sorted array per document (bounded by document
    * length) and the rewrite is row-local: a left join of `documents`
    * against the per-doc drop-set, then an in-row indexed filter —
    * the full token stream is never shuffled. */
  def spanDedupClean(documents: DataFrame, windowTokens: Int = 8): DataFrame = {
    val W = windowTokens
    val toks = split(col("text"), " ")
    val occ = documents
      .where(size(toks) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(toks) - W),
          i => array_join(slice(toks, i + 1, lit(W)), " "))))
      .toDF("doc_id", "pos", "win")
    // duplicated windows with their corpus-first occurrence
    val winStats = occ.groupBy("win")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("c") > 1)
      .select(col("win"),
        col("first.doc_id").as("fd"), col("first.pos").as("fp"))
    val dupOcc = occ.join(winStats.hint("shuffle_hash"), "win")
      .select(col("doc_id"), col("pos"),
        (col("doc_id") === col("fd") && col("pos") === col("fp"))
          .cast("int").as("surv"))
    // a covered position is dropped iff NO covering occurrence survives
    val drops = dupOcc
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + W - 1)).as("p"),
        col("surv"))
      .groupBy("doc_id", "p")
      .agg(max(col("surv")).as("any_surv"))
      .where(col("any_surv") === 0)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("drop_ps"))
    // row-local rewrite: indexed filter against the per-doc drop set
    documents
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(transform(
          filter(transform(toks, (t, i) => struct(i.as("i"), t.as("t"))),
            s => !coalesce(
              array_contains(col("drop_ps"), s.getField("i")), lit(false))),
          s => s.getField("t")), " ").as("clean_text"),
        coalesce(size(col("drop_ps")), lit(0)).cast("long").as("n_dropped"))
  }

  /** Span-level benchmark decontamination — the surgical variant of
    * the doc-level flagger: instead of dropping a contaminated
    * document whole, MASK the contaminated span and keep the rest
    * (the scrub OLMo/Dolma-style pipelines run before training so an
    * eval passage quoted inside an otherwise-good page doesn't cost
    * the whole page). A corpus token is dropped iff some `windowTokens`-
    * token sliding window covering it appears verbatim anywhere in the
    * benchmark set; the rewrite machinery is [[spanDedupClean]]'s
    * (covered-position fold → per-doc drop set → row-local indexed
    * filter), with NO survivor exception — benchmark text has no
    * "first occurrence" that gets to stay.
    *
    * Scale shape: the benchmark window set is small BY NATURE
    * (benchmarks are thousands of docs, not billions) so it
    * BROADCASTS; the corpus side is one row-local window generation +
    * broadcast join — corpus windows are never shuffled on the window
    * key. Only contaminated occurrences explode to covered positions
    * (W rows each); the drop-set folds to one sorted array per
    * affected doc and the rewrite is in-row. Every corpus doc
    * round-trips: untouched docs return their full text, fully-
    * contaminated docs return `clean_text = ""`. */
  def maskContaminatedSpans(
      documents: DataFrame, benchmark: DataFrame,
      windowTokens: Int = 8): DataFrame = {
    val W = windowTokens
    val toks = split(col("text"), " ")
    def windows(df: DataFrame) = df
      .where(size(toks) >= W)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(toks) - W),
          i => array_join(slice(toks, i + 1, lit(W)), " "))))
      .toDF("doc_id", "pos", "win")
    val benchWins = windows(benchmark).select("win").distinct()
    val contaminated = windows(documents)
      .join(broadcast(benchWins), "win")
    val drops = contaminated
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + W - 1)).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("drop_ps"))
    documents
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(transform(
          filter(transform(toks, (t, i) => struct(i.as("i"), t.as("t"))),
            s => !coalesce(
              array_contains(col("drop_ps"), s.getField("i")), lit(false))),
          s => s.getField("t")), " ").as("clean_text"),
        coalesce(size(col("drop_ps")), lit(0)).cast("long").as("n_dropped"))
  }

  /** PPJoin-style variant of [[ngramJaccard]] for skewed shingle
    * frequencies: candidate generation only indexes each document's
    * prefix — its ⌊(1−t)·|sh|⌋+1 globally-*rarest* shingles (rarity =
    * document frequency; the prefix theorem holds for any global total
    * order, and rarity-first makes prefix keys near-unique, so the
    * self-join stays cheap even when the overall vocabulary is heavy
    * with stop-shingles). Candidates are then verified with the exact
    * set Jaccard — output identical to [[ngramJaccard]]. */
  def ngramJaccardPrefix(
      documents: DataFrame,
      shingleN: Int = 5,
      threshold: Double = 0.35): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Document frequency comes from a map-side-combinable aggregation
    // joined back on shingle — NOT from `count(*) over (partition by
    // shingle)`. This operator exists for skew-heavy corpora, and a
    // stop-shingle's whole postings list would funnel through a single
    // window task; the aggregate partials combine map-side, and a
    // skewed join partition is AQE-splittable (a window partition is
    // not). Cost: the df branch re-runs the shingle explode (one extra
    // linear map-side pass) — Spark plan branches don't share work,
    // and that beats a driverless single-task funnel at scale.
    val dfBranch = documents
      .select(explode(graft.functions.ShingleSet(col("text"), shingleN)).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
    val ranked = shingleIndex(documents, shingleN)
      .join(dfBranch, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)))
    val prefixLen = floor(col("n_sh") * (1.0 - threshold)) + 1
    val prefix = ranked.where(col("rk") <= prefixLen)
      .select("shingle", "lang", "len_band", "doc_id")
    val buckets = prefix
      .groupBy("shingle", "lang", "len_band")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")) >= 2)
    val candidates = buckets
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p").getItem(0).as("a_id"), col("p").getItem(1).as("b_id"))
      .distinct()
    verifyJaccard(candidates, documents, shingleN)
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Pair-set evaluation of an approximate near-dup tier against
    * exact ground truth — the dedup counterpart of
    * [[Similarity.retrievalEval]], and the measurement a pipeline
    * gates a blocking configuration on (how many true duplicate pairs
    * does this banding find, and how much of what it flags is real?).
    * Both inputs carry `(a_id, b_id)`; pairs are canonicalized
    * (least/greatest, distinct) so orientation and multiplicity can't
    * skew counts. Reports one row: pair counts plus precision =
    * hits/predicted, recall = hits/truth, F1 — all small-integer IEEE
    * division, zero-guarded, so any tier/truth pairing whose two
    * sides carry exact oracles composes into an exactly-oracled
    * evaluation.
    *
    * Scale shape: one full-outer join on the canonical pair key (both
    * sides pair-count-sized, far below corpus size) folding straight
    * into a single global aggregate — output is ONE row. */
  def pairEval(predicted: DataFrame, truth: DataFrame): DataFrame = {
    def canon(df: DataFrame, flag: String) = df.select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
      .withColumn(flag, lit(1L))
    canon(predicted, "in_p")
      .join(canon(truth, "in_t"), Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("in_p"), lit(0L))), lit(0L)).as("n_predicted"),
        coalesce(sum(coalesce(col("in_t"), lit(0L))), lit(0L)).as("n_truth"),
        coalesce(sum(when(col("in_p").isNotNull && col("in_t").isNotNull,
          lit(1L)).otherwise(lit(0L))), lit(0L)).as("n_hits"))
      .select(
        col("n_predicted"), col("n_truth"), col("n_hits"),
        when(col("n_predicted") === 0L, lit(0.0))
          .otherwise(col("n_hits").cast("double") / col("n_predicted"))
          .as("precision"),
        when(col("n_truth") === 0L, lit(0.0))
          .otherwise(col("n_hits").cast("double") / col("n_truth"))
          .as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
  }
}
