package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal
import graft.operators.{Bloom, Similarity, Storage}

/** Similarity-search + sketch + multimodal query surface (SURVEY.md
  * §2.3). The DuckDB oracle reproduces cosine scores bit-exactly: both
  * engines widen float→double element-wise, multiply pairwise, and
  * accumulate strictly left-to-right (Spark `aggregate` from 0.0 ==
  * DuckDB `list_reduce` seeded with the first element, since
  * 0.0 + x == x), then one sqrt and one division — all IEEE-exact.
  */
object VectorQueries {
  import IndexScenario.{baseRows, lastThird, parityThirds}

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "knn_brute" -> ((s, d) =>
      Similarity.bruteForceKnn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    "knn_lsh" -> ((s, d) =>
      Similarity.lshKnn(Tables.embeddings(s, d), planes = 8, k = 5)),

    // hard-negative mining (RocketQA/DPR): per query, the top-k
    // most-similar DIFFERENT-label vectors below the false-negative
    // denoising ceiling — the negatives a contrastive retriever
    // actually trains on.
    "knn_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // filtered retrieval (the RAG metadata-filter shape): exact top-k
    // among same-label corpus rows only — the pre-filter ground truth.
    "knn_filtered" -> ((s, d) =>
      Similarity.filteredBruteKnn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // ...and the ANN tier under the same predicate: label rides in the
    // inverted-list entry, the filter applies during the probed-list
    // scan (in-scan filtering, no metadata side join).
    "knn_filtered_ivf" -> ((s, d) =>
      Similarity.filteredIvfKnn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // MMR diversified re-ranking (Carbonell & Goldstein 1998): the
    // redundancy-control stage after the shortlist — greedily pick 5
    // of the top-20 maximizing 0.7·rel − 0.3·max-sim-to-picked, so
    // near-duplicate hits don't crowd the result set. The greedy
    // trajectory is deterministic double arithmetic → unrolled-CTE
    // oracle replays every pick bit-for-bit.
    "knn_mmr" -> ((s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // what MMR buys, measured: per query the intra-list similarity
    // (mean pairwise cosine, 2^36 fixed-point exact) of the plain
    // top-5 next to the MMR top-5 — the number that says whether λ
    // is doing anything.
    "knn_eval_mmr" -> ((s, d) =>
      Similarity.mmrDiversityEval(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // hybrid lexical + dense retrieval with reciprocal-rank fusion:
    // token-Jaccard top-20 and cosine top-20 per query (both scores
    // out of ONE corpus pass — the second top-k reuses the first's
    // shuffle), fused by RRF with k=60. Query-by-example over the
    // docs⋈embeddings corpus; the oracle recomputes both rankings
    // and the fusion from first principles.
    "knn_hybrid_rrf" -> ((s, d) => {
      val lex = Tables.documents(s, d).select(col("doc_id"),
        array_distinct(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("toks"))
      Similarity.hybridRrf(lex,
        Tables.embeddings(s, d).select("vec_id", "embedding"))
    }),

    // ...and the PERSISTED form — the stack a deployment actually
    // runs: the dense signal served from a durable IVF index
    // (IvfIndex.serveAll top-20, probed-list scan only — the corpus's
    // floats are never re-scored in full), the lexical signal from
    // one in-row token-Jaccard pass, fused through the identical RRF
    // seam (Similarity.rrfFuse — the fusion contract is ranking-
    // source-agnostic by construction). The oracle swaps the exact
    // dense ranking for the seed-IVF trajectory and reuses the same
    // fusion tail.
    "knn_hybrid_rrf_persisted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val embAll = Tables.embeddings(s, d).select("vec_id", "embedding")
      val corpusEmb = embAll
        .join(docs.select(col("doc_id")), col("vec_id") === col("doc_id"))
        .select("vec_id", "embedding")
      val lex = docs
        .join(embAll.select(col("vec_id")), col("doc_id") === col("vec_id"))
        .select(col("doc_id"),
          array_distinct(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).as("toks"))
      val seeds = embAll.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val path = IndexScenario.build(s, graft.operators.IvfIndex, "graft_hyb_ivf_")(
        graft.operators.IvfIndex.write(corpusEmb, seeds, _))
      val dense = graft.operators.IvfIndex.serveAll(s, path,
        corpusEmb.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 20, nProbe = 4)
      Similarity.rrfFuse(dense, Similarity.lexicalTopM(lex, nQueries = 8, m = 20))
    }),

    // the fused tier in the tier-vs-truth matrix: hybrid top-5 vs
    // exact-cosine truth over the SAME joined corpus — the number
    // that says whether the lexical signal helps or hurts recall of
    // the dense ground truth at this fusion weight.
    "knn_eval_hybrid" -> ((s, d) => {
      val lex = Tables.documents(s, d).select(col("doc_id"),
        array_distinct(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("toks"))
      val embAll = Tables.embeddings(s, d).select("vec_id", "embedding")
      val corpusEmb = embAll
        .join(Tables.documents(s, d).select(col("doc_id")),
          col("vec_id") === col("doc_id"))
        .select("vec_id", "embedding")
      val truth = Similarity.bruteForceKnn(corpusEmb, nQueries = 8, k = 5)
      val hyb = Similarity
        .hybridRrf(lex, embAll, nQueries = 8, m = 20, k = 5)
        .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
      Similarity.retrievalEval(hyb, truth, k = 5)
    }),

    // ...and the persisted stack in the tier-vs-truth matrix: the
    // IVF-dense + lexical fusion's top-5 vs the same exact-cosine
    // truth — what the ANN approximation costs (or buys) the fused
    // ranking relative to knn_eval_hybrid's exact-dense fusion.
    "knn_eval_hybrid_persisted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val embAll = Tables.embeddings(s, d).select("vec_id", "embedding")
      val corpusEmb = embAll
        .join(docs.select(col("doc_id")), col("vec_id") === col("doc_id"))
        .select("vec_id", "embedding")
      val lex = docs
        .join(embAll.select(col("vec_id")), col("doc_id") === col("vec_id"))
        .select(col("doc_id"),
          array_distinct(filter(split(lower(col("text")), "\\s+"),
            t => length(t) > 0)).as("toks"))
      val seeds = embAll.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val path = IndexScenario.build(s, graft.operators.IvfIndex, "graft_hybe_ivf_")(
        graft.operators.IvfIndex.write(corpusEmb, seeds, _))
      val dense = graft.operators.IvfIndex.serveAll(s, path,
        corpusEmb.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 20, nProbe = 4)
      val hyb = Similarity
        .rrfFuse(dense, Similarity.lexicalTopM(lex, nQueries = 8, m = 20), k = 5)
        .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
      Similarity.retrievalEval(hyb,
        Similarity.bruteForceKnn(corpusEmb, nQueries = 8, k = 5), k = 5)
    }),

    // the PRODUCTION retrieval chain: ANN shortlist first (seed-IVF
    // top-20 — the corpus is touched only by the tier's probed-list
    // scan), MMR diversity second over the 20-row shortlist. Both
    // stages deterministic → the composed trajectory replays in full.
    "knn_mmr_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mmrRerankWith(
        Similarity.ivfKnn(e, nQueries = 8, k = 20)
          .select(col("query_id"), col("vec_id"), col("cos").as("rel")),
        e, k = 5)
    }),

    // ...and MMR over the FUSED shortlist — diversity on top of the
    // hybrid stack: the RRF top-20 (its rounded fused score as the
    // relevance signal) re-ranked by the same greedy
    // relevance-vs-redundancy trade. The composed trajectory —
    // corpus pass → two rankings → fusion → greedy rounds — replays
    // in full: every stage is deterministic and the greedy consumes
    // the ROUNDED rrf exactly as emitted.
    "knn_mmr_hybrid" -> ((s, d) => {
      val lex = Tables.documents(s, d).select(col("doc_id"),
        array_distinct(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("toks"))
      val embAll = Tables.embeddings(s, d).select("vec_id", "embedding")
      // the fused shortlist is a pin of its own; MMR materializes
      // what it reads of it before the scope releases it
      Storage.releasing(Similarity.hybridRrf(lex, embAll, nQueries = 8, m = 20, k = 20))(
        fused => Similarity.mmrRerankWith(
          fused.select(col("query_id"), col("doc_id").as("vec_id"),
            col("rrf").as("rel")),
          embAll, k = 5))
    }),

    // ...and the full tuning curve: the filtered recall–cost frontier
    // over nProbe ∈ {1,2,4,8}, with BOTH cost axes per config — rows
    // the scan reads (whole probed lists) and rows the scorer scores
    // (same-label members); their gap is the price of the predicate
    // at this selectivity.
    "knn_filtered_frontier" -> ((s, d) =>
      Similarity.filteredIvfFrontier(Tables.embeddings(s, d),
        nQueries = 8, k = 5)),

    // the filtered-recall measurement a deployment tunes from: probed
    // lists may hold few rows of the query's label, so filtered recall
    // decays faster with selectivity than unfiltered recall with
    // nProbe — measured per query vs the exact pre-filter truth.
    "knn_eval_filtered" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.filteredIvfKnn(e, nQueries = 8, k = 5),
        Similarity.filteredBruteKnn(e, nQueries = 8, k = 5),
        k = 5)
    }),

    // binary quantization: sign bits packed 64-per-long, hamming
    // ranking — output is representation-independent, so the oracle
    // counts sign-disagreeing dimensions directly.
    "knn_binary" -> ((s, d) =>
      Similarity.binaryKnn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // int8 scalar quantization ANN: the emb_quantize representation
    // actually SERVING queries — asymmetric de-quantized dot product,
    // full oracle (floor(x+0.5) + left-to-right double fold).
    "knn_sq8" -> ((s, d) =>
      Similarity.sq8Knn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // ANN quality evaluation: recall@5 of the SQ8 index against the
    // exact cosine ground truth, per query — the measurement every
    // index deployment gates on. Both sides are deterministic, so the
    // whole evaluation carries an exact oracle. (Recall compares SETS;
    // SQ8 ranks by de-quantized dot, brute by cosine — overlap of the
    // top-5s, not rank agreement.)
    "knn_sq8_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val approx = Similarity.sq8Knn(e, nQueries = 8, k = 5)
        .select(col("query_id"), col("vec_id"))
      val exact = Similarity.bruteForceKnn(e, nQueries = 8, k = 5)
        .select(col("query_id").as("q2"), col("vec_id").as("v2"))
      approx
        .join(exact, approx("query_id") === exact("q2") &&
          approx("vec_id") === exact("v2"), "left")
        .groupBy("query_id")
        .agg((count(col("q2")) / 5.0).as("recall_at_5"))
        .orderBy("query_id")
    }),

    // the GENERIC tier-vs-truth evaluation operator over the binary
    // (sign-bit hamming) tier: per query, recall@5, MRR (reciprocal
    // rank of the best-placed true neighbor the tier surfaced), and
    // the raw hit count — both sides are exactly oracled, so the
    // composed evaluation is too.
    "knn_eval_binary" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.binaryKnn(e, nQueries = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    // the full evaluation MATRIX over the remaining deterministic
    // tiers (SQ8 de-quantized dot / PQ ADC / seed-centroid IVF), each
    // against the same exact-cosine truth: how every multi-tier
    // deployment decides which index answers which traffic. One
    // retrievalEval composition per tier; every side carries an exact
    // oracle, so each evaluation is hash-verified end to end.
    "knn_eval_sq8" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.sq8Knn(e, nQueries = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    "knn_eval_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.pqKnn(e, nQueries = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    "knn_eval_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.ivfKnn(e, nQueries = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    // the recall–cost FRONTIER in one query: nProbe ∈ {1,2,4,8} of the
    // seed-IVF tier, each row = (config, recall@5 vs brute truth, raw
    // hits, scanned candidate rows, scan fraction) — the table a
    // deployment picks its operating point from. Deterministic end to
    // end (integer sums + single divisions), so the oracle composes
    // the seed-IVF and brute CTEs and replays the frontier exactly.
    "knn_eval_frontier" -> ((s, d) =>
      Similarity.ivfFrontier(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // ...and the two-stage knob: at fixed coarse cost, shortlist ∈
    // {10,25,50} of the IVFADC-rescore tier — recall of the exactly
    // re-ranked top-5 vs the exact-stage work actually done. One ADC
    // ranking computed once, every config slices it.
    "knn_eval_frontier_rescore" -> ((s, d) =>
      Similarity.ivfPqRescoreFrontier(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        nQueries = 8, k = 5)),

    // ...and the BYTES axis — the scalar/compressed full-scan tiers
    // at the same k: float32 brute (256 B/vec), SQ8 (72 B), binary
    // sign bits (8 B), seed PQ (4 B), each a row of (recall@5 vs the
    // shared brute truth, raw hits, bytes per candidate, exact
    // bytes-scanned-per-query = (n−1)·bytes_per_vec). The table that
    // justifies the quantized tiers' existence: what recall each
    // memory budget buys when the whole corpus is scanned.
    "knn_eval_frontier_scalar" -> ((s, d) =>
      Similarity.scalarFrontier(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // ...and the two-stage composition's recall — the number a
    // deployment actually gates on (rescoring can only fix ranking
    // INSIDE the shortlist; this measures what the compressed first
    // pass left recoverable).
    "knn_eval_ivfpq_rescore" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.ivfPqKnnRescore(
          e.select(col("vec_id"), col("embedding")),
          nQueries = 8, k = 5, shortlist = 50),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    // the probabilistic tiers under the same truth-driven evaluation:
    // LSH recall is the one the planes/maxBucket knobs are tuned by.
    // The tier ranks every bucketed vector as a query; the truth-driven
    // join restricts to the 8 truth queries (extra tier rows drop with
    // no metric effect — retrievalEval's documented contract).
    "knn_eval_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.lshKnn(e, planes = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    "knn_eval_lsh_mp" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.lshKnnMultiProbe(e, planes = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    // the doubly-lossy tier (coarse pruning + residual quantization)
    // is precisely the one whose recall@k a deployment gates on —
    // evaluated against the same exact-cosine truth as the rest of
    // the matrix.
    "knn_eval_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.ivfPqKnn(
          e.select(col("vec_id"), col("embedding")), nQueries = 8, k = 5),
        Similarity.bruteForceKnn(e, nQueries = 8, k = 5), k = 5)
    }),

    // late-interaction retrieval vs its single-vector collapse: the
    // exhaustive MaxSim ranking evaluated against exact cosine over
    // MEAN-POOLED doc vectors — the "what does multi-vector scoring
    // buy over pooling" measurement, at doc granularity on both sides.
    "knn_eval_maxsim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.retrievalEval(
        Similarity.maxSimKnn(e, tokensPerDoc = 4, nQueries = 4, k = 5),
        Similarity.bruteForceKnn(
          Similarity.meanPoolDocs(e, tokensPerDoc = 4), nQueries = 4, k = 5),
        k = 5)
    }),

    // product quantization + ADC: codes and lookup tables are exact
    // double arithmetic with deterministic tie-breaks, so the whole
    // encode→LUT→score→top-k pipeline is recomputed by the oracle.
    "knn_pq" -> ((s, d) =>
      Similarity.pqKnn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    "knn_lsh_mp" -> ((s, d) =>
      Similarity.lshKnnMultiProbe(Tables.embeddings(s, d), planes = 8, k = 5)),

    // IVF is exactly reproducible (deterministic seed centroids +
    // exact cosine), so unlike LSH it carries a full oracle.
    "knn_ivf" -> ((s, d) =>
      Similarity.ivfKnn(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // IVF-PQ with residual encoding (IVFADC — the composed FAISS
    // billion-scale layout): coarse assignment, PQ over residuals
    // v − c(v), one ADC LUT per (query, probed centroid). Seeded
    // coarse centroids + seeded residual codebook → the full
    // trajectory (assignment, residuals, codes, per-probe LUTs, ADC,
    // top-k) replays in the oracle bit-for-bit.
    "knn_ivfpq" -> ((s, d) =>
      Similarity.ivfPqKnn(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        nQueries = 8, k = 5)),

    // ...and the PERSISTED IVFADC tier under the correctness gate: the
    // trained state (seed coarse centroids + seed residual codebook
    // over the FULL corpus — the same pair the in-memory trajectory
    // derives) persisted once, base codes from two thirds of the
    // corpus, the rest assigned+residual-encoded as two committed
    // delta epochs AGAINST THE STORED STATE, then compacted + gc'd
    // (marker-last generation swap) before serving — the full
    // write→append→compact→gc→serve maintenance cycle. Assignment and
    // codes are pure functions of (vector, stored state) and ints /
    // float32 centroids / double residual codewords round-trip parquet
    // exactly, so the serve is bit-identical to knn_ivfpq over the
    // union — the shared oracle.
    "knn_ivfpq_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val seeds = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val cb = Similarity.ivfPqSeedCodebook(
        e.select(col("vec_id"), col("embedding")), seeds)
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.IvfPqIndex,
        "graft_ivfpq_delta_", parityThirds(v, col("vec_id")), compact = true)(
        graft.operators.IvfPqIndex.write(baseRows(v, col("vec_id")), seeds, cb, _))
      graft.operators.IvfPqIndex.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 5, nProbe = 4)
    }),

    // two-stage IVFADC serving — THE billion-scale production shape:
    // the doubly-compressed first pass shortlists 50 per query, the
    // exact cosine re-ranks only queries × shortlist rows.
    "knn_ivfpq_rescore" -> ((s, d) =>
      Similarity.ivfPqKnnRescore(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        nQueries = 8, k = 5, shortlist = 50)),

    // fully TRAINED IVFADC: Lloyd-trained coarse centroids (the
    // knn_ivf_trained trajectory) + a per-subspace Lloyd-trained
    // RESIDUAL codebook (float32 trained state, the family
    // convention; encode/score arithmetic stays double), then the
    // standard IVFADC serve.
    // Completes the seed/trained symmetry across the tier family;
    // the oracle replays BOTH trainings and the whole serve.
    "knn_ivfpq_trained" -> ((s, d) =>
      Similarity.ivfPqKnnTrained(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        nQueries = 8, k = 5)),

    // ...and the trained state PERSISTED end-to-end — the production
    // train-once/encode-forever trajectory on disk: ivfPqTrainState
    // Lloyd-trains both halves on the full corpus, writeTrained
    // persists them (per-subspace codebook, dense re-key) with base
    // codes from two thirds, the remaining third arrives as two
    // committed delta epochs residual-encoded AGAINST THE STORED
    // STATE, then compact + gc (marker-last generation swap) before
    // serving. Encode is a pure function of (vector, stored state)
    // and float32 centroids / float32 codewords / int codes
    // round-trip parquet exactly, so the serve is bit-identical to
    // knn_ivfpq_trained over the union — the shared oracle.
    "knn_ivfpq_trained_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val (centroids, cbPerM) = Similarity.ivfPqTrainState(e)
      val path = IndexScenario.build(s, graft.operators.IvfPqIndex,
        "graft_ivfpq_tdelta_", parityThirds(e, col("vec_id")), compact = true) { p =>
        // the epochs encode against the stored state, not these pins
        Storage.releasing(centroids)(_ => Storage.releasing(cbPerM)(_ =>
          graft.operators.IvfPqIndex.writeTrained(
            baseRows(e, col("vec_id")), centroids, cbPerM, p)))
      }
      graft.operators.IvfPqIndex.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 5, nProbe = 4)
    }),

    // the durable-index serving path: build the seed-centroid IVF
    // index, persist it as parquet (assignments PARTITIONED BY c_id —
    // one directory per inverted list), reload, and serve top-k from
    // the on-disk index with no retraining/reassignment. Must be
    // hash-identical to knn_ivf (float32 round-trips parquet exactly);
    // the probe join prunes to the probed list partitions on disk.
    // NOTE this entry times write+read+serve together (honest
    // end-to-end); the serve path alone is the production number —
    // the index is built once and probed many times.
    "knn_ivf_persisted" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val seeds = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val path = IndexScenario.build(s, graft.operators.IvfIndex, "graft_ivf_index_")(
        graft.operators.IvfIndex.write(e, seeds, _))
      graft.operators.IvfIndex.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 5, nProbe = 4)
    }),

    // the LSM ingest path under the driver's gate: base segment from
    // two thirds of the corpus, the rest appended as two committed
    // epoch DELTA segments against the same trained centroids
    // (StreamingOps.ingestStream's foreachBatch step, run inline),
    // served through serveAll (base ∪ deltas, partition pruning per
    // segment). Assignment is a pure function of (vector, centroids),
    // so the result is bit-identical to the single-segment build —
    // which is what the shared oracle asserts.
    "knn_ivf_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val seeds = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val path = IndexScenario.build(s, graft.operators.IvfIndex, "graft_ivf_delta_",
        parityThirds(e.select(col("vec_id"), col("embedding")), col("vec_id")))(
        graft.operators.IvfIndex.write(baseRows(e, col("vec_id")), seeds, _))
      graft.operators.IvfIndex.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 5, nProbe = 4)
    }),

    // TIME TRAVEL over the vector index: top-k served AS OF an earlier
    // committed epoch, from the RETAINED generation after compact +
    // gc(retainGens = 1) — "what would this query have retrieved when
    // epoch 0 landed?", the reproducibility question answered from
    // history without replaying ingest. Epochs 0 and 1 fold into
    // generation 1; the as-of-0 snapshot resolves generation 0 plus
    // delta 0 only, so the corpus is exactly the rows present then.
    "knn_ivf_asof" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val seeds = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val path = IndexScenario.build(s, graft.operators.IvfIndex, "graft_ivf_asof_",
        parityThirds(e.select(col("vec_id"), col("embedding")), col("vec_id")),
        compact = true, retainGens = 1)(
        graft.operators.IvfIndex.write(baseRows(e, col("vec_id")), seeds, _))
      graft.operators.IvfIndex.serveAsOf(s, path, epoch = 0L,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 5, nProbe = 4)
    }),

    // the SQ8 tier of the same LSM ingest protocol: base segment
    // quantized from two thirds of the corpus, the rest appended as
    // two committed delta epochs (quantization is a pure per-vector
    // function), served from base ∪ deltas — bit-identical to the
    // in-memory knn_sq8 over the union, which is what the shared
    // oracle asserts.
    "knn_sq8_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.Sq8Index, "graft_sq8_delta_",
        parityThirds(v, col("vec_id")))(
        graft.operators.Sq8Index.write(baseRows(v, col("vec_id")), _))
      graft.operators.Sq8Index.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        k = 5)
    }),

    // ...and that tier's full MAINTENANCE cycle executed at the
    // correctness gate: the same base + two committed delta epochs,
    // but compacted (deltas folded into base generation 1, marker
    // written last) and gc'd (superseded generation-0 data and folded
    // delta data retired; epoch markers kept as the replay guard)
    // BEFORE serving — the post-compaction serve must still be
    // bit-identical to the in-memory operator over the union. This is
    // the path a long-running ingest takes every compactEvery epochs.
    "knn_sq8_compact" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.Sq8Index, "graft_sq8_cpt_",
        parityThirds(v, col("vec_id")), compact = true)(
        graft.operators.Sq8Index.write(baseRows(v, col("vec_id")), _))
      graft.operators.Sq8Index.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        k = 5)
    }),

    // ...and the PQ tier: the seed codebook is persisted ONCE, the
    // base codes come from two thirds of the corpus, and the delta
    // epochs are ENCODED AGAINST THE STORED CODEBOOK (train once,
    // encode forever); serving rebuilds the per-query ADC LUTs from
    // the stored codebook — bit-identical to knn_pq over the union.
    "knn_pq_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = e.where(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cw_k"), col("embedding").as("cw"))
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.PqIndex, "graft_pq_delta_",
        parityThirds(v, col("vec_id")))(
        graft.operators.PqIndex.write(baseRows(v, col("vec_id")), cb, _))
      graft.operators.PqIndex.serveAll(s, path,
        e.where(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q")),
        k = 5)
    }),

    // the embedding-space admission probe (SemDeDup at ingest time —
    // IvfIndex.probeSemantic): a re-crawl shard re-keyed high, probed
    // against the persisted IVF index holding the FULL corpus (base
    // 2/3 + one committed delta epoch — the probe unions the live
    // snapshot exactly like serving does). Output = every
    // same-inverted-list pair touching the shard at cos ≥ 0.95; the
    // re-keyed exact copies guarantee non-vacuity at every SF
    // (cos(copy, original) folds to the same double on both engines
    // and the copy lands in its original's inverted list).
    "dedup_semantic_probe" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val seeds = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.IvfIndex, "graft_sem_probe_",
        lastThird(v, col("vec_id")))(
        graft.operators.IvfIndex.write(baseRows(v, col("vec_id")), seeds, _))
      graft.operators.IvfIndex.probeSemantic(s, path,
        e.where(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 10000000000L).as("vec_id"), col("embedding")))
    }),

    // ...and the COMPRESSED admission probe (IvfPqIndex.probeSemantic):
    // the admitted embedding store held as PQ codes (16–32× smaller at
    // 100 TB), ADC shortlisting candidates inside the shard's own
    // inverted lists (nProbe = 1 == the assignment), exact cosine only
    // for the shortlisted ids against the raw vector source (the
    // decision log in the admission loop; the embeddings table here).
    // Same topology as dedup_semantic_probe: base 2/3 + one committed
    // delta, shard = every 5th vector re-keyed high — the re-keyed
    // exact copies guarantee non-vacuity (an exact copy's ADC distance
    // is the per-query minimum, so it always survives the shortlist).
    "dedup_semantic_probe_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val seeds = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val cb = Similarity.ivfPqSeedCodebook(
        e.select(col("vec_id"), col("embedding")), seeds)
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.IvfPqIndex, "graft_sem_pq_",
        lastThird(v, col("vec_id")))(
        graft.operators.IvfPqIndex.write(baseRows(v, col("vec_id")), seeds, cb, _))
      graft.operators.IvfPqIndex.probeSemantic(s, path,
        e.where(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 10000000000L).as("vec_id"), col("embedding")),
        vectorSource = e.select(col("vec_id"), col("embedding")))
    }),

    // ...and the binary tier: sign-bit packed signatures (pure
    // per-vector packing, like SQ8's quantize), hamming serving over
    // base ∪ deltas — bit-identical to knn_binary over the union.
    "knn_binary_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val v = e.select(col("vec_id"), col("embedding"))
      val path = IndexScenario.build(s, graft.operators.BinaryIndex, "graft_bin_delta_",
        parityThirds(v, col("vec_id")))(
        graft.operators.BinaryIndex.write(baseRows(v, col("vec_id")), _))
      graft.operators.BinaryIndex.serveAll(s, path,
        graft.operators.Similarity.binarySignatures(e.where(col("vec_id") < 8))
          .select(col("vec_id").as("query_id"), col("sig").as("qsig")),
        k = 5)
    }),

    // multi-vector late-interaction retrieval (ColBERT MaxSim):
    // documents are bags of 4 token vectors, score = Σ_q max_d
    // dot(q, d) — full oracle (nested list HOFs, every fold
    // left-to-right, the inner max order-independent).
    "knn_maxsim" -> ((s, d) =>
      Similarity.maxSimKnn(Tables.embeddings(s, d),
        tokensPerDoc = 4, nQueries = 4, k = 5)),

    // ...and its persisted LSM tier — the last serving tier to get
    // one: token bags built at INGEST time (document-atomic epochs,
    // split at doc granularity), committed as delta segments,
    // compact + gc, then served as a pure bag scan. Bagging is a pure
    // per-document function and float32 token vectors round-trip
    // parquet exactly, so the serve is bit-identical to knn_maxsim
    // over the union — the shared oracle.
    "knn_maxsim_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val docOf = floor(col("vec_id") / 4).cast("long")
      val path = IndexScenario.build(s, graft.operators.MaxSimIndex,
        "graft_maxsim_delta_", parityThirds(e, docOf), compact = true)(
        graft.operators.MaxSimIndex.write(baseRows(e, docOf), _, tokensPerDoc = 4))
      graft.operators.MaxSimIndex.serveAll(s, path,
        graft.operators.Similarity.tokenBags(e, 4).where(col("doc_id") < 4)
          .select(col("doc_id").as("query_id"), col("toks").as("qtoks")),
        k = 5)
    }),

    // two-stage retrieval (the production serving shape): ADC
    // shortlist of 50 per query, exact-cosine re-rank to top-5 — the
    // exact stage's cost is independent of corpus size.
    "knn_pq_rescore" -> ((s, d) =>
      Similarity.pqKnnRescore(Tables.embeddings(s, d), nQueries = 8, k = 5,
        shortlist = 50)),

    // PQ over per-subspace k-means-TRAINED codebooks (L2 Lloyd, the
    // real PQ training objective): the oracle replays all 4 subspaces'
    // 2-iteration trajectories, the dense re-keying, and the ADC
    // scoring — bit-exact end to end.
    "knn_pq_trained" -> ((s, d) =>
      Similarity.pqKnnTrained(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    // IVF over a k-means-TRAINED codebook: 3 distributed Lloyd
    // iterations (broadcast assignment + fixed-point-exact mean recompute,
    // float32 centroids) — the oracle unrolls the same 3 iterations,
    // so the whole training trajectory is hash-verified, not just the
    // final probe.
    "knn_ivf_trained" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // materialize the 40-row answer, then release the trained
      // centroid block — the trainer's output is consumed, not kept
      Storage.releasing(Similarity.kmeans(e, k = 16, iters = 3))(
        Similarity.ivfKnnWith(e, _, nQueries = 8, k = 5, nProbe = 4)
          .transform(Storage.pin))
    }),

    // threshold 0.35 sits below the max pairwise cosine of the random
    // testdata embeddings at every SF, so the pass is non-vacuous
    // (threshold 0.9 matched nothing — empty ≡ empty proves nothing).
    // The headline operator is the banded-LSH one; the brute-force
    // definition is kept as its own oracled query so both the scale
    // path and the exactness baseline are hash-checked.
    // semantic dedup: one representative per k-means cluster of the
    // embedding space — catches near-duplicate MEANINGS with zero
    // token overlap. Same trained trajectory as knn_ivf_trained, so
    // the oracle replays training + assignment + survivor pick.
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), k = 16, iters = 3)),

    // self-supervised dataset pruning (Sorscher et al. 2022): per
    // k-means cluster keep the hardest ⌈n/2⌉ members (farthest from
    // their own prototype) — redundant easy examples drop. Same
    // trained trajectory as dedup_semantic; exact integer keep rule
    // (2·rank ≤ n+1), so the oracle replays train→assign→rank→keep.
    "emb_prune_hard" -> ((s, d) =>
      Similarity.pruneHard(Tables.embeddings(s, d), k = 16, iters = 3)),

    "neardup_cosine" -> ((s, d) =>
      Similarity.cosineNearDup(Tables.embeddings(s, d), threshold = 0.35)),

    "neardup_cosine_exact" -> ((s, d) =>
      Similarity.cosineNearDupExact(Tables.embeddings(s, d), threshold = 0.35)),

    // pair-set evaluation of a DEGRADED blocking config (8 planes per
    // band × only 4 bands — selective bands, few chances to collide,
    // so recall < 1 by construction) against the brute-force truth:
    // the measurement a pipeline gates a banding choice on. Both the
    // degraded tier and the truth replay exactly in the oracle, so
    // precision/recall/F1 compose into an exactly-oracled evaluation.
    "dedup_pair_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.operators.Dedup.pairEval(
        Similarity.cosineNearDup(e, threshold = 0.35,
          planesPerBand = 8, bands = 4),
        Similarity.cosineNearDupExact(e, threshold = 0.35))
    }),

    "emb_norms" -> ((s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("l2_norm"))),

    // scalar-row shape (vec_id, dim, u) rather than a raw array column:
    // array cells aren't sortable/hashable by the oracle harness, and
    // the exploded form is what a downstream per-dimension consumer
    // (e.g. the centroid query below) reads anyway.
    "emb_normalize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("n", graft.functions.VectorFunctions.norm(col("embedding")))
        .select(
          col("vec_id"),
          posexplode(transform(col("embedding"), x => x.cast("double") / col("n"))))
        .select(col("vec_id"), col("pos").cast("long").as("dim"), col("col").as("u"))),

    // Johnson–Lindenstrauss random projection 64 → 16 dims: the
    // dimensionality-reduction front end of a large-scale ANN build
    // (shrinks the shuffle/memory footprint 4× before indexing).
    // Row-local (zero shuffle); the seeded LCG matrix is closed-form
    // integer arithmetic, so the oracle regenerates it exactly, and
    // each output cell is a strict left-to-right dot product from 0.0
    // — the same IEEE-exact recipe as the cosine oracles.
    "emb_random_projection" -> ((s, d) => {
      val inDim = 64; val outDim = 16
      val mat: Seq[Seq[Double]] = (0 until outDim).map(i => (0 until inDim).map(j =>
        (((1103515245L * (j * outDim + i) + 12345L) % 2001L) - 1000L).toDouble / 1000.0))
      val m = typedLit(mat)
      Tables.embeddings(s, d).select(
          col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(outDim - 1)), i =>
            aggregate(
              zip_with(col("embedding"), element_at(m, (i + 1).cast("int")),
                (x, r) => x.cast("double") * r),
              lit(0.0), (acc, p) => acc + p))))
        .select(col("vec_id"), col("pos").cast("long").as("out_dim"),
          col("col").as("v"))
    }),

    "emb_label_centroid_dist" -> ((s, d) => {
      // centroid per label via posexplode + per-dim mean. Deterministic
      // by construction (→ oracled): the mean sums exact decimals
      // (order-independent) and the squared norm reduces dims in
      // sorted order, so no float accumulation-order sensitivity.
      val e = Tables.embeddings(s, d)
      val dims = e.select(col("label"),
        posexplode(col("embedding"))).toDF("label", "dim", "x")
      dims.groupBy("label", "dim")
        .agg((sum(col("x").cast("double")
            .cast(org.apache.spark.sql.types.DecimalType(25, 15))).cast("double")
          / count(lit(1))).as("cx"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_dims"),
          round(
            aggregate(
              transform(
                array_sort(collect_list(struct(col("dim"), col("cx")))),
                v => v.getField("cx") * v.getField("cx")),
              lit(0.0), (a, b) => a + b), 6).as("centroid_sq_norm"))
    }),

    // int8 scalar quantization per vector (symmetric, max-abs scale):
    // the compression step before shipping embeddings to an ANN index.
    // floor(x+0.5) instead of round(): both engines floor identically,
    // while round() differs on double halfway cases across dialects.
    "emb_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("mx",
          array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .select(col("vec_id"),
          posexplode(transform(col("embedding"),
            // zero-vector guard: ANSI mode would throw on cast(NaN)
            x => when(col("mx") > 0,
              floor(x.cast("double") * 127.0 / col("mx") + 0.5).cast("long"))
              .otherwise(lit(0L)))))
        .select(col("vec_id"), col("pos").cast("long").as("dim"), col("col").as("q"))),

    // Count-Min Sketch frequency estimation — the mergeable
    // heavy-hitters sketch, and unlike HLL/KLL it is FULLY ORACLED:
    // buckets derive from md5 (byte-identical in every engine) and the
    // counters are additive longs (commutative merge), so the whole
    // sketch is deterministic. depth=4 × width=512 longs = 16 KB of
    // state no matter how many rows stream through — the 100 TB story.
    // Output: estimate vs exact for the probe ids; CMS never
    // underestimates (asserted in SketchSpec).
    "sketch_cms" -> ((s, d) => {
      val depth = 4
      val width = 512
      val e = Tables.events(s, d).select(col("user_id"))
      def bucket(dd: org.apache.spark.sql.Column, u: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(dd.cast("string"), lit(":"), u.cast("string"))),
          1, 8), 16, 10).cast("long") % width
      val depths = explode(array((0 until depth).map(i => lit(i)): _*)).as("d")
      val counters = e.select(col("user_id"), depths)
        .select(col("d"), bucket(col("d"), col("user_id")).as("bucket"))
        .groupBy("d", "bucket").agg(count(lit(1)).as("c"))
      val probes = e.where(col("user_id") < 20).distinct()
        .select(col("user_id"), depths)
        .select(col("user_id"), col("d"), bucket(col("d"), col("user_id")).as("bucket"))
      val exact = e.where(col("user_id") < 20)
        .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      counters.join(broadcast(probes), Seq("d", "bucket"))
        .groupBy("user_id").agg(min(col("c")).as("cms_est"))
        .join(broadcast(exact), "user_id")
        .select(col("user_id"), col("cms_est"), col("exact_n"))
    }),

    // heavy hitters via the CMS: candidates = the distinct keys (the
    // production shape runs the cheap distinct as the same single
    // pass), keep keys whose ESTIMATE clears the threshold. CMS never
    // underestimates, so the output is a superset of the true heavy
    // hitters — and being fully deterministic, the exact superset is
    // itself hash-verified, estimates included.
    "sketch_cms_heavy" -> ((s, d) => {
      val depth = 4
      val width = 512
      val e = Tables.events(s, d).select(col("user_id"))
      def bucket(dd: org.apache.spark.sql.Column, u: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(dd.cast("string"), lit(":"), u.cast("string"))),
          1, 8), 16, 10).cast("long") % width
      val depths = explode(array((0 until depth).map(i => lit(i)): _*)).as("d")
      val counters = e.select(col("user_id"), depths)
        .select(col("d"), bucket(col("d"), col("user_id")).as("bucket"))
        .groupBy("d", "bucket").agg(count(lit(1)).as("c"))
      val candidates = e.distinct()
        .select(col("user_id"), depths)
        .select(col("user_id"), col("d"), bucket(col("d"), col("user_id")).as("bucket"))
      counters.join(broadcast(candidates), Seq("d", "bucket"))
        .groupBy("user_id").agg(min(col("c")).as("cms_est"))
        .where(col("cms_est") >= 75)
        .select(col("user_id"), col("cms_est"))
    }),

    // Bloom membership accounting: deterministic md5 bit positions →
    // the whole filter (build + probe) is hash-verified by the oracle,
    // like sketch_cms. bf_maybe ⊇ exact_in always (no false
    // negatives); the gap rows ARE the false positives, so the
    // sketch's approximation is itself under oracle.
    "sketch_bloom" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val bits = Bloom.build(urgent, "o_custkey", words = 256, k = 3)
      Bloom.maybeContains(
          Tables.customer(s, d).select(col("c_custkey")),
          "c_custkey", bits, "bf_maybe", words = 256, k = 3)
        .join(urgent.select(col("o_custkey").as("c_custkey"),
          lit(true).as("hit")), Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("bf_maybe"),
          coalesce(col("hit"), lit(false)).as("exact_in"))
    }),

    "sketch_hll" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))),

    "sketch_quantiles" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("approx_percentile(value, array(0.25, 0.5, 0.75), 1000)").as("qs"))
        .select(col("event_type"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"))),

    // exploded to one row per histogram bin — same reason as
    // emb_normalize: the harness sorts output rows, and array cells
    // aren't sortable.
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        s, Multimodal.assetsFromDocuments(Tables.documents(s, d))).toDF()
        .select(col("asset_id"), col("kind"), col("n_bytes"),
          posexplode(col("features")))
        .select(col("asset_id"), col("kind"), col("n_bytes"),
          col("pos").cast("long").as("bin"), col("col").as("f"))),

    // multimodal → similarity composition: extract (stub) features
    // from binary payloads, then ANN over the feature space — the
    // end-to-end shape of an embedding-dedup pass over an asset lake.
    "mm_feature_knn" -> ((s, d) => {
      val feats = Multimodal.extractFeatures(
        s, Multimodal.assetsFromDocuments(Tables.documents(s, d))).toDF()
        .select(col("asset_id").as("vec_id"),
          transform(col("features"), x => x.cast("float")).as("embedding"))
      Similarity.bruteForceKnn(feats, nQueries = 4, k = 3)
    }),

    // REAL codec path: BMP fixture images (closed-form pixels) are
    // decoded with JDK ImageIO inside the per-partition seam; the
    // oracle recomputes every statistic from the pixel formula, so a
    // decoder that read the wrong bytes, axes, or channels would
    // hash-mismatch.
    "mm_decode" -> ((s, d) =>
      Multimodal.decodeImageFeatures(s,
        Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()),

    // REAL audio codec path, the WAV analogue of mm_decode: JDK
    // javax.sound encodes deterministic PCM16 fixtures and decodes
    // them back inside mapPartitions; the oracle recomputes every
    // statistic from the closed-form sample formula.
    "mm_audio_decode" -> ((s, d) =>
      Multimodal.decodeAudioFeatures(s,
        Multimodal.audioAssets(s, Tables.documents(s, d))).toDF()),

    // frame sampling summarized per asset. Oracled: DuckDB cannot
    // slice BLOBs, but frame count and byte totals are pure arithmetic
    // over octet_length — the oracle recomputes them from first
    // principles (frame byte *content* is pinned by MultimodalSpec).
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.assetsFromDocuments(Tables.documents(s, d)))
        .groupBy("asset_id")
        .agg(count(lit(1)).as("n_frames"), sum(length(col("frame_bytes"))).as("total_bytes"))),

    // multimodal near-dup dedup: 64-bit perceptual aHash over REAL
    // decoded pixels (block-mean luma, exact-integer threshold), then
    // the chunk-blocked Hamming pair law shared with dedup_simhash —
    // pigeonhole-exhaustive at maxHamming ≤ 3. The BMP fixtures'
    // pixels are closed-form, so the oracle recomputes every hash bit
    // from the formula and replays the pair set exactly.
    "mm_neardup" -> ((s, d) =>
      Multimodal.imageNearDupPairs(s, Tables.documents(s, d), maxHamming = 3)),

    // the multimodal PIPELINE capstone: decode every doc's image →
    // aHash → perceptual near-dup drops the larger id of every
    // hamming ≤ 3 pair → deterministic 50% membership sample (the
    // pipeline_pretrain multiplicative hash) → per-source survivor
    // counts. Every stage is an already-oracled component; the
    // composition replays end-to-end from the closed-form pixel
    // formula. Scale shape: decode is the embarrassingly-parallel
    // codec seam, the pair law is the shared (cappable) pigeonhole
    // blocking, everything after is a semi/anti join + one combinable
    // aggregate — the corpus is scanned once per stage and never
    // shuffled except the pair-bucket exchange.
    "pipeline_multimodal" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Multimodal.imageAHash(s, Multimodal.imageAssets(s, docs))
        .toDF().withColumnRenamed("asset_id", "doc_id")
      val dropped = graft.operators.Dedup.hammingChunkPairs(sigs, maxHamming = 3)
        .select(col("b_id").as("doc_id")).distinct()
      docs
        .join(sigs.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(dropped, Seq("doc_id"), "left_anti")
        .where(pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L),
          lit(100L)) < 50)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ...and the image dedup taken to its decision: the perceptual
    // pair graph clustered with the shared pointer-jumped connected
    // components — every image in a near-dup cluster labeled by its
    // minimum asset_id (the canonical survivor), the per-cluster
    // keep/drop form an image ingest actually applies.
    "mm_neardup_clusters" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        Multimodal.imageNearDupPairs(s, Tables.documents(s, d), maxHamming = 3))
        .select(col("doc_id").as("asset_id"), col("cluster_id"))),

    // ...the durable form: aHash signatures persisted on the shared
    // LSM protocol (HammingIndex — signature-agnostic: the same index
    // type serves text SimHash), base 2/3 + one committed delta +
    // compact/gc, then the batch pair law over the snapshot —
    // bit-identical to mm_neardup (4-int signatures round-trip
    // parquet exactly), the shared oracle.
    "mm_neardup_delta" -> ((s, d) => {
      // decode ONCE: the write and append branches share no work in
      // Spark plans, so unpinned the aHash decode pass would run twice
      val sigs = Multimodal.imageAHash(
        s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs) { _ =>
        val path = IndexScenario.build(s, graft.operators.HammingIndex, "graft_mmham_delta_",
          lastThird(sigs, col("doc_id")), compact = true)(
          graft.operators.HammingIndex.write(baseRows(sigs, col("doc_id")), _))
        // the serve reads only the persisted segments — the pin can
        // release before the (lazy) result leaves the query body
        graft.operators.HammingIndex.servePairs(s, path, maxHamming = 3)
      }
    }),

    // ...and the image ADMISSION probe: a re-keyed shard of signatures
    // (every 5th image — planted exact perceptual copies, hamming 0)
    // probed against the persisted index — only the chunk buckets the
    // shard collides with move, and the pigeonhole blocking is
    // exhaustive at hamming ≤ 3, so the probe equals the all-pairs
    // restriction to shard-touching pairs — exactly oracled.
    "mm_neardup_probe" -> ((s, d) => {
      // decode ONCE: write/append/probe-shard are three independent
      // plan branches — unpinned, the aHash decode pass would run 3×
      val sigs = Multimodal.imageAHash(
        s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs) { _ =>
        val path = IndexScenario.build(s, graft.operators.HammingIndex, "graft_mmham_probe_",
          lastThird(sigs, col("doc_id")))(
          graft.operators.HammingIndex.write(baseRows(sigs, col("doc_id")), _))
        // probePairs eagerly pins its (output-sized) result, so the
        // sigs pin can release before the result leaves the body
        graft.operators.HammingIndex.probePairs(s, path,
          sigs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 10000000000L).as("doc_id"),
              col("c0"), col("c1"), col("c2"), col("c3")))
      }
    }),

    // ...and the SKEW-CAPPED pair law — the production form for real
    // crawl corpora, where solid-color/near-white images collapse to
    // a handful of aHash chunk values and one hot (chunk, chunk_val)
    // bucket would otherwise be a single-task O(n²) collect_list
    // blow-up: a bucket past maxBucket saturates and contributes NO
    // pairs (dropped whole, never a partial set — minhashLsh's
    // MAX_BUCKET contract). Saturation is a pure function of the
    // signature relation, so the oracle models it exactly: a
    // hamming ≤ 3 pair qualifies iff SOME matching chunk's bucket is
    // within the cap. maxBucket = 32 saturates real buckets at both
    // verified SFs (sf0.01: 456 → 389 pairs; sf0.1: 61,748 → 11,335)
    // — the capped stage is exercised, not vacuously equal to the
    // exhaustive law.
    "mm_neardup_capped" -> ((s, d) =>
      graft.operators.Dedup.hammingChunkPairs(
        Multimodal.imageAHash(s, Multimodal.imageAssets(s, Tables.documents(s, d)))
          .toDF().withColumnRenamed("asset_id", "doc_id"),
        maxHamming = 3, maxBucket = 32)
        .select(col("a_id"), col("b_id"), col("hamming"))),

    // audio near-dup — the THIRD signature family through the shared
    // signature-agnostic HammingIndex (text SimHash, image aHash,
    // now frame-energy-delta-sign audio fingerprints): real WAV
    // decode → 64 fixed frames of exact integer energy → delta-sign
    // bits → 4×16-bit chunks, persisted as base 2/3 + one committed
    // delta + compact/gc, then the o(index) admission probe with a
    // re-keyed shard (every 5th clip — planted perceptual copies,
    // hamming 0; the arithmetic fixtures also carry natural near-dup
    // structure, so the pair law is exercised beyond the plants).
    // Every fingerprint bit is recomputed by the oracle from the
    // closed-form WAV sample formula.
    "mm_audio_neardup" -> ((s, d) => {
      // decode ONCE: write/append/probe-shard are three independent
      // plan branches — unpinned, the WAV decode pass would run 3×
      val sigs = Multimodal.audioFingerprint(
        s, Multimodal.audioAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs) { _ =>
        val path = IndexScenario.build(s, graft.operators.HammingIndex, "graft_audham_",
          lastThird(sigs, col("doc_id")), compact = true)(
          graft.operators.HammingIndex.write(baseRows(sigs, col("doc_id")), _))
        graft.operators.HammingIndex.probePairs(s, path,
          sigs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 10000000000L).as("doc_id"),
              col("c0"), col("c1"), col("c2"), col("c3")))
      }
    }),

    // the skew-cap MONITORING view, itself oracled: the
    // (chunk, chunk_val) buckets of a persisted aHash index that
    // would saturate under maxBucket = 32 — what a deployment watches
    // to size its cap (and to detect a missing exact-hash pre-stage).
    // One aggregation over the signature rows, output = the hot
    // buckets only.
    "mm_hot_buckets" -> ((s, d) => {
      val sigs = Multimodal.imageAHash(
        s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
      val path = IndexScenario.build(s, graft.operators.HammingIndex, "graft_hotbk_")(
        graft.operators.HammingIndex.write(sigs, _))
      graft.operators.HammingIndex.saturatedBuckets(s, path, maxBucket = 32)
    }),

    // video near-dup — the FOURTH signature family through the shared
    // signature-agnostic HammingIndex: multi-frame BMP clips sliced on
    // the container frame table, each frame decoded through the real
    // JDK ImageIO path, per-frame exact aHash bits folded by strict
    // TEMPORAL MAJORITY (frame-order-blind, minority-corruption
    // tolerant) into one 64-bit fingerprint, persisted base 2/3 + one
    // committed delta + compact/gc, then the o(index) admission probe
    // with re-keyed shard plants (hamming 0). Every bit recomputed by
    // the oracle from the closed-form frame-pixel formula.
    "mm_video_neardup" -> ((s, d) => {
      // decode ONCE (the video fingerprint pass decodes ~30k frames
      // at sf0.1): write/append/probe-shard are three independent
      // plan branches — unpinned, that decode pass would run 3×
      val sigs = Multimodal.videoFingerprint(
        s, Multimodal.videoAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs) { _ =>
        val path = IndexScenario.build(s, graft.operators.HammingIndex, "graft_vidham_",
          lastThird(sigs, col("doc_id")), compact = true)(
          graft.operators.HammingIndex.write(baseRows(sigs, col("doc_id")), _))
        graft.operators.HammingIndex.probePairs(s, path,
          sigs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 10000000000L).as("doc_id"),
              col("c0"), col("c1"), col("c2"), col("c3")))
      }
    }),

    // ...and the CAPPED video pair law — for the densest signature
    // space in the engine (temporal majority smooths per-frame noise,
    // so distinct fingerprints are fewer and buckets bigger: the
    // uncapped 10× run hits the expansion wall outright, SCALE10X),
    // the skew cap is the production-realistic form. Same dropped-
    // whole contract and first-principles oracle as mm_neardup_capped
    // (cap 32 saturates real buckets at both SFs: sf0.01 397 → 259
    // pairs, sf0.1 52,018 → 13,429).
    "mm_video_capped" -> ((s, d) =>
      graft.operators.Dedup.hammingChunkPairs(
        Multimodal.videoFingerprint(
          s, Multimodal.videoAssets(s, Tables.documents(s, d))).toDF()
          .withColumnRenamed("asset_id", "doc_id"),
        maxHamming = 3, maxBucket = 32)
        .select(col("a_id"), col("b_id"), col("hamming"))),

    // ...and the video dedup taken to its decision: the natural
    // temporal-majority fingerprint pair graph clustered with the
    // shared pointer-jumped connected components — the keep/drop form
    // for the fourth modality, completing pairs→clusters for every
    // signature family.
    "mm_video_clusters" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.hammingChunkPairs(
          Multimodal.videoFingerprint(
            s, Multimodal.videoAssets(s, Tables.documents(s, d))).toDF()
            .withColumnRenamed("asset_id", "doc_id"),
          maxHamming = 3))
        .select(col("doc_id").as("asset_id"), col("cluster_id"))),

    // ...and the audio dedup taken to its decision, like the image
    // family: the natural fingerprint pair graph (the arithmetic WAV
    // fixtures carry real near-dup structure — 1,117 pairs at sf0.01)
    // clustered with the shared pointer-jumped connected components,
    // every clip labeled by its minimum asset_id — the per-cluster
    // keep/drop form an audio ingest applies.
    "mm_audio_clusters" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.hammingChunkPairs(
          Multimodal.audioFingerprint(
            s, Multimodal.audioAssets(s, Tables.documents(s, d))).toDF()
            .withColumnRenamed("asset_id", "doc_id"),
          maxHamming = 3))
        .select(col("doc_id").as("asset_id"), col("cluster_id"))),

    // the PRODUCTION decision chain for dense perceptual spaces, for
    // all three signature families: SKEW-CAPPED pairs (maxBucket = 32
    // — the cap that saturates real buckets at both verified SFs, so
    // the capped law is exercised, never vacuously equal to the
    // exhaustive one) → pointer-jumped connected components →
    // survivor labels (is_survivor = the cluster's min id — the
    // keep/drop bit an ingest applies). This is the composition a
    // 100 TB deployment runs where the uncapped chain cannot
    // (SCALE10X: uncapped image clusters ×32 at 10× assets; uncapped
    // video pair expansion stalls outright) — oracled end-to-end from
    // first principles: per-(chunk, value) bucket counts + the
    // qualifying-chunk EXISTS pair law, then the recursive min-label
    // closure. Saturation is a pure function of the signature
    // relation, so capped→CC is exactly SQL-replayable.
    "mm_neardup_clusters_capped" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.hammingChunkPairs(
          Multimodal.imageAHash(
            s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
            .withColumnRenamed("asset_id", "doc_id"),
          maxHamming = 3, maxBucket = 32))
        .select(col("doc_id").as("asset_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("is_survivor"))),

    "mm_video_clusters_capped" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.hammingChunkPairs(
          Multimodal.videoFingerprint(
            s, Multimodal.videoAssets(s, Tables.documents(s, d))).toDF()
            .withColumnRenamed("asset_id", "doc_id"),
          maxHamming = 3, maxBucket = 32))
        .select(col("doc_id").as("asset_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("is_survivor"))),

    "mm_audio_clusters_capped" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.hammingChunkPairs(
          Multimodal.audioFingerprint(
            s, Multimodal.audioAssets(s, Tables.documents(s, d))).toDF()
            .withColumnRenamed("asset_id", "doc_id"),
          maxHamming = 3, maxBucket = 32))
        .select(col("doc_id").as("asset_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("is_survivor"))),

    // the CAP'S PRICE, measured: of the exhaustive hamming ≤ 3 pair
    // set, what fraction survives the maxBucket = 32 skew cap, and
    // how many buckets saturated to pay for it — the one-row table a
    // deployment reads before sizing its cap (at sf0.01 the cap
    // keeps 389/456 = 85.3% of true pairs; at sf0.1 only
    // 11,335/61,748 = 18.4% — which is exactly why the admission
    // stage defaults to 4096: the cap is a circuit breaker to SIZE,
    // not a free lunch, and this query is the sizing instrument).
    // One pinned signature pass, three output-sized folds.
    "mm_capped_eval" -> ((s, d) => {
      val sigs = Multimodal.imageAHash(
        s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs)(cappedEvalOver)
    }),

    // ...the same sizing instrument for the OTHER two signature
    // families — they saturate differently (the audio chain keeps
    // real pair survival at 10× where the image chain fully
    // saturates, SCALE10X), so a deployment sizes each family's cap
    // from its own row, not the image one.
    "mm_capped_eval_video" -> ((s, d) => {
      val sigs = Multimodal.videoFingerprint(
        s, Multimodal.videoAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs)(cappedEvalOver)
    }),

    "mm_capped_eval_audio" -> ((s, d) => {
      val sigs = Multimodal.audioFingerprint(
        s, Multimodal.audioAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs)(cappedEvalOver)
    }),

    // ...and the DURABLE form of the capped decision chain — what a
    // deployment actually serves from: signatures persisted on the
    // shared LSM index (base 2/3 + one committed delta + compact/gc),
    // the capped pair law over the snapshot (servePairs inherits the
    // shared maxBucket contract), then the same CC → survivor fold.
    // Signatures round-trip parquet exactly, so this is bit-identical
    // to mm_neardup_clusters_capped — the shared oracle.
    "mm_neardup_clusters_durable" -> ((s, d) => {
      // decode ONCE: the write and append branches share no work —
      // unpinned, the aHash decode pass would run twice
      val sigs = Multimodal.imageAHash(
        s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin)
      Storage.releasing(sigs) { _ =>
        val path = IndexScenario.build(s, graft.operators.HammingIndex, "graft_mmham_ccdur_",
          lastThird(sigs, col("doc_id")), compact = true)(
          graft.operators.HammingIndex.write(baseRows(sigs, col("doc_id")), _))
        // connectedComponents consumes the (disk-backed) pair relation
        // eagerly into its persisted edge set, so the sigs pin can
        // release before the labels leave the body
        graft.operators.Dedup.connectedComponents(
          graft.operators.HammingIndex.servePairs(s, path,
            maxHamming = 3, maxBucket = 32))
          .select(col("doc_id").as("asset_id"), col("cluster_id"),
            (col("doc_id") === col("cluster_id")).as("is_survivor"))
      }
    }),

    // ...and the ONLINE form of the capped decision chain, proven at
    // the driver's gate on real signatures: the image aHash relation
    // is replayed in two micro-batch-shaped halves through
    // StreamingOps.updateHammingClusters — per-bucket occupancy,
    // member, and bucket-keyed admitted-pair state maintained
    // incrementally, with a bucket that crosses maxBucket mid-stream
    // RETRACTING exactly its own admitted pairs (the cap's
    // drop-whole-bucket law is not monotone under arrival; at sf0.01+
    // real buckets do cross between the halves, so the rebuild path
    // runs here, not just in the spec). The maintained snapshot must
    // land bit-identically on mm_neardup_clusters_capped's chain —
    // the shared oracle.
    "mm_clusters_capped_incremental" -> ((s, d) => {
      val sigs = Multimodal.imageAHash(
        s, Multimodal.imageAssets(s, Tables.documents(s, d))).toDF()
        .withColumnRenamed("asset_id", "doc_id")
        .transform(Storage.pin) // two halves + the fold branch it
      Storage.releasing(sigs) { _ =>
        val st = graft.streaming.StreamingOps.emptyHammingClusterState(
          s, maxHamming = 3, maxBucket = 32)
        try {
          graft.streaming.StreamingOps.updateHammingClusters(
            st, sigs.where(col("doc_id") % 2 === 0))
          graft.streaming.StreamingOps.updateHammingClusters(
            st, sigs.where(col("doc_id") % 2 =!= 0))
          st.snapshot
            .select(col("doc_id").as("asset_id"), col("cluster_id"),
              (col("doc_id") === col("cluster_id")).as("is_survivor"))
            .transform(Storage.pin)
        } finally st.release()
      }
    }))

  /** The cap-sizing fold shared by the three mm_capped_eval* rows:
    * exhaustive vs capped (maxBucket = 32) hamming ≤ 3 pair counts,
    * the saturated-bucket count, and pair recall — one pinned
    * signature pass (caller owns the pin), three output-sized folds. */
  private def cappedEvalOver(sigs: org.apache.spark.sql.DataFrame) = {
    val all = graft.operators.Dedup
      .hammingChunkPairs(sigs, maxHamming = 3)
      .agg(count(lit(1)).as("n_pairs_exhaustive"))
    val capped = graft.operators.Dedup
      .hammingChunkPairs(sigs, maxHamming = 3, maxBucket = 32)
      .agg(count(lit(1)).as("n_pairs_capped"))
    val sat = sigs
      .select(posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .toDF("chunk", "chunk_val")
      .groupBy("chunk", "chunk_val").agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > 32, 1L).otherwise(0L))
        .as("n_saturated_buckets"))
    all.crossJoin(broadcast(capped)).crossJoin(broadcast(sat))
      .select(col("n_pairs_exhaustive"), col("n_pairs_capped"),
        col("n_saturated_buckets"),
        round(col("n_pairs_capped").cast("double") /
          col("n_pairs_exhaustive"), 6).as("pair_recall"))
      .transform(Storage.pin)
  }

  // dot(a,b) with strict left-to-right double accumulation, 1-based idx
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform($a, (x, i) -> CAST(x AS DOUBLE) * CAST(($b)[i] AS DOUBLE)), (acc, x) -> acc + x)"
  private def normSql(a: String) =
    s"sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  // knn_lsh oracle: the hyperplane weights are a deterministic seeded
  // stream, so the oracle EMBEDS them as SQL literals (shortest
  // round-trip doubles parse back bit-exactly) and recomputes the
  // bucket assignment, skew cap, and top-k from first principles.
  private val lshPlanes = 8

  /** SQL for the 8-plane bucket signature with the seed-42 weights
    * embedded as literals (shared by both LSH oracles). */
  private lazy val bucketSql: String = {
    val dim = 64
    val rnd = new scala.util.Random(42) // same stream as HyperplaneBandSignature
    val w = Array.fill(lshPlanes * dim)(rnd.nextGaussian())
    def projSql(p: Int): String = {
      val lits = (0 until dim).map(i => java.lang.Double.toString(w(p * dim + i)))
        .mkString("[", ", ", "]")
      s"""list_reduce(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * ($lits)[i]),
            (acc, v) -> acc + v)"""
    }
    (0 until lshPlanes)
      .map(p => s"(CASE WHEN ${projSql(p)} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
  }

  private lazy val lshOracle: String =
    s"""WITH sig AS (
          SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
        ok AS (
          SELECT bucket FROM sig GROUP BY bucket HAVING count(*) BETWEEN 2 AND 64),
        cand AS (
          SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                 ${cosSql("a.embedding", "b.embedding")} AS cos
          FROM sig a
          JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
          JOIN ok ON ok.bucket = a.bucket),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  /** Multi-probe oracle: query probes its own bucket plus the
    * `lshPlanes` buckets one bit-flip away; base buckets keep the
    * 64-member skew cap but singletons stay (they matter for recall). */
  private lazy val lshMultiProbeOracle: String = {
    val probeList = ("bucket" +: (0 until lshPlanes).map(j => s"xor(bucket, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"""WITH sig AS (
          SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
        ok AS (
          SELECT bucket FROM sig GROUP BY bucket HAVING count(*) BETWEEN 1 AND 64),
        probes AS (
          SELECT vec_id AS query_id, embedding AS qv,
                 unnest($probeList) AS probe_bucket
          FROM sig JOIN ok USING (bucket)),
        cand AS (
          SELECT p.query_id, b.vec_id,
                 ${cosSql("p.qv", "b.embedding")} AS cos
          FROM probes p
          JOIN sig b ON b.bucket = p.probe_bucket
          JOIN ok ON ok.bucket = b.bucket
          WHERE b.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""
  }

  /** Shared CTEs for the byte-histogram oracles: hex-decode the UTF-8
    * blob per asset, count bytes mod 16, and enumerate all 16 bins
    * (zero bins included) — ONE definition so the mm_features and
    * mm_feature_knn oracles can never drift apart. */
  private val byteHistCtes =
    """a AS (
         SELECT doc_id AS asset_id,
                (['image','audio','video','text'])[CAST(doc_id % 4 + 1 AS INT)] AS kind,
                hex(encode(text)) AS h,
                octet_length(encode(text)) AS n
         FROM documents),
       bytes AS (
         SELECT asset_id,
                unnest(list_transform(range(n),
                  i -> CAST(('0x' || substring(h, CAST(i*2+1 AS INT), 2)) AS INT) % 16)) AS bin
         FROM a),
       counts AS (
         SELECT asset_id, bin, count(*) AS c FROM bytes GROUP BY 1, 2),
       allbins AS (
         SELECT a.asset_id, a.kind, a.n, CAST(t.b AS BIGINT) AS bin
         FROM a, range(16) AS t(b))"""

  /** knn_ivf_trained oracle: unrolls the SAME 3 Lloyd iterations the
    * engine runs — argmax-cosine assignment (ties to lowest c_id),
    * per-dim mean via the family's exact 2^36 fixed-point sums
    * (order-independent, engine-unambiguous — Similarity.fpSum)
    * divided once in double, centroid rounded through REAL (the
    * engine's float32 cast) — then the standard IVF probe against the
    * trained table. Every centroid of every iteration must agree
    * bit-for-bit or the final ranks drift. */
  private lazy val lloydCtes: String = {
    def assign(i: Int, cent: String) =
      s"""a$i AS (
            SELECT vec_id, embedding, c_id FROM (
              SELECT e.vec_id, e.embedding, c.c_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
              FROM embeddings e CROSS JOIN $cent c)
            WHERE rn = 1)"""
    def recompute(i: Int) =
      s"""c$i AS (
            SELECT c_id, list(CAST(cx AS REAL) ORDER BY dim) AS c_vec FROM (
              SELECT c_id, dim,
                     CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 68719476736 + 0.5) AS BIGINT)) AS DOUBLE)
                       / count(*) / 68719476736 AS cx
              FROM (
                SELECT c_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
                       unnest(embedding) AS x
                FROM a$i)
              GROUP BY 1, 2)
            GROUP BY c_id)"""
    // af carries the winning cosine alongside the assignment — the IVF
    // probe ignores it, the semantic-dedup survivor pick needs it
    s"""c0 AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        ${assign(1, "c0")}, ${recompute(1)},
        ${assign(2, "c1")}, ${recompute(2)},
        ${assign(3, "c2")}, ${recompute(3)},
        af AS (
          SELECT vec_id, embedding, c_id, cos FROM (
            SELECT e.vec_id, e.embedding, c.c_id,
                   ${cosSql("e.embedding", "c.c_vec")} AS cos,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
            FROM embeddings e CROSS JOIN c3 c)
          WHERE rn = 1)"""
  }

  /** knn_mmr oracle: the greedy MMR trajectory UNROLLED, one CTE pair
    * per pick (the lloydCtes pattern) — candidate shortlist = exact
    * top-20, first pick maximizes λ·rel (empty picked set), each later
    * pick maximizes λ·rel − μ·max-sim-to-picked over the not-yet-
    * picked shortlist. λ and μ are independent literals CAST to
    * DOUBLE, so both sides compute with the identical 0.7/0.3 bits
    * (never 1 − λ in floating point). */
  private lazy val mmrOracle: String = mmrGreedySql(
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 8),
       scored AS (
         SELECT q.query_id, e.vec_id, e.embedding,
                ${cosSql("q.qv", "e.embedding")} AS rel
         FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
       cand AS (
         SELECT query_id, vec_id, rel, embedding FROM (
           SELECT query_id, vec_id, rel, embedding,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, vec_id ASC) AS rank
           FROM scored) WHERE rank <= 20)""")

  /** knn_mmr_ivf oracle: the SAME greedy over the seed-IVF tier's
    * top-20 shortlist — the composed production chain replayed. */
  private lazy val mmrIvfOracle: String = mmrGreedySql(
    s"""c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM embeddings e CROSS JOIN c),
        assigned AS (SELECT vec_id, embedding, c_id FROM a WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, c.c_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c),
        probe AS (SELECT query_id, qv, c_id FROM qa WHERE rn <= 4),
        candraw AS (
          SELECT p.query_id, s.vec_id, s.embedding,
                 ${cosSql("p.qv", "s.embedding")} AS rel
          FROM probe p JOIN assigned s ON p.c_id = s.c_id
          WHERE s.vec_id <> p.query_id),
        cand AS (
          SELECT query_id, vec_id, rel, embedding FROM (
            SELECT query_id, vec_id, rel, embedding,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, vec_id ASC) AS rank
            FROM candraw) WHERE rank <= 20)""")

  /** knn_mmr_hybrid oracle: the same greedy over the hybrid RRF
    * top-20 — rel is the ROUNDED fused score, exactly the column the
    * engine feeds mmrRerankWith. */
  private lazy val mmrHybridOracle: String = mmrGreedySql(
    s"""$hybridRrfCtes,
        cand AS (
          SELECT r.query_id, r.doc_id AS vec_id,
                 round(r.rrf, 6) AS rel, e.embedding
          FROM rk r JOIN embeddings e ON e.vec_id = r.doc_id
          WHERE r.rank <= 20)""")

  /** The unrolled greedy MMR trajectory over whatever `candCtes`
    * defines as cand(query_id, vec_id, rel, embedding). */
  private def mmrGreedySql(candCtes: String): String = {
    val LAM = "CAST(0.7 AS DOUBLE)"; val MU = "CAST(0.3 AS DOUBLE)"
    def step(i: Int): String =
      s"""se${i - 1} AS (
            SELECT p.query_id, c.embedding
            FROM sel${i - 1} p JOIN cand c
              ON c.query_id = p.query_id AND c.vec_id = p.vec_id),
          m$i AS (
            SELECT c.query_id, c.vec_id,
                   max(c.rel) AS rel,
                   max(${cosSql("c.embedding", "s.embedding")}) AS max_sim
            FROM cand c JOIN se${i - 1} s ON s.query_id = c.query_id
            WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
                              WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
            GROUP BY c.query_id, c.vec_id),
          p$i AS (
            SELECT query_id, vec_id, $i AS mmr_rank, mmr_score FROM (
              SELECT query_id, vec_id,
                     $LAM * rel - $MU * max_sim AS mmr_score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY $LAM * rel - $MU * max_sim DESC, vec_id ASC) AS rn
              FROM m$i) WHERE rn = 1),
          sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM p$i)"""
    s"""WITH $candCtes,
        sel1 AS (
          SELECT query_id, vec_id, 1 AS mmr_rank, mmr_score FROM (
            SELECT query_id, vec_id, $LAM * rel AS mmr_score,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY $LAM * rel DESC, vec_id ASC) AS rn
            FROM cand) WHERE rn = 1),
        ${(2 to 5).map(step).mkString(",\n")}
        SELECT query_id, vec_id, mmr_rank, mmr_score FROM sel5"""
  }

  /** knn_filtered_frontier oracle: [[frontierOracle]] under the
    * per-query label predicate — assignment carries the label, the
    * candidate join filters on it, truth is the pre-filter exact
    * form, and the sweep adds `qualifying_rows` (same-label members
    * of the probed lists — what the scorer actually scores). */
  private lazy val filteredFrontierOracle: String =
    s"""WITH c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, e.label, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM embeddings e CROSS JOIN c),
        assigned AS (SELECT vec_id, embedding, label, c_id FROM a WHERE rn = 1),
        cnts AS (SELECT c_id, count(*) AS cnt FROM assigned GROUP BY 1),
        lcnts AS (SELECT c_id, label, count(*) AS lcnt FROM assigned GROUP BY 1, 2),
        tot AS (SELECT count(*) AS n_total FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
              FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, q.qlabel, c.c_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c),
        tru AS (SELECT query_id, vec_id FROM ($filteredBruteOracle)),
        ps AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
        cand AS (
          SELECT ps.n_probe, qa.query_id, s.vec_id,
                 ${cosSql("qa.qv", "s.embedding")} AS cos
          FROM ps JOIN qa ON qa.rn <= ps.n_probe
          JOIN assigned s ON s.c_id = qa.c_id
          WHERE s.vec_id <> qa.query_id AND s.label = qa.qlabel),
        ranked AS (
          SELECT n_probe, query_id, vec_id,
                 row_number() OVER (PARTITION BY n_probe, query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand),
        res AS (SELECT n_probe, query_id, vec_id FROM ranked WHERE rank <= 5),
        marked AS (
          SELECT ps.n_probe, t.query_id,
                 CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM ps CROSS JOIN tru t
          LEFT JOIN res r ON r.n_probe = ps.n_probe
            AND r.query_id = t.query_id AND r.vec_id = t.vec_id),
        hits AS (
          SELECT n_probe, CAST(sum(hit) AS BIGINT) AS n_hits,
                 CAST(count(DISTINCT query_id) AS BIGINT) AS nq
          FROM marked GROUP BY 1),
        scanned AS (
          SELECT ps.n_probe, CAST(sum(cnts.cnt) AS BIGINT) AS scanned_rows
          FROM ps JOIN qa ON qa.rn <= ps.n_probe
          JOIN cnts ON cnts.c_id = qa.c_id
          GROUP BY 1),
        qual AS (
          SELECT ps.n_probe,
                 CAST(coalesce(sum(l.lcnt), 0) AS BIGINT) AS qualifying_rows
          FROM ps JOIN qa ON qa.rn <= ps.n_probe
          JOIN lcnts l ON l.c_id = qa.c_id AND l.label = qa.qlabel
          GROUP BY 1)
        SELECT h.n_probe,
               CAST(h.n_hits AS DOUBLE) / (h.nq * 5) AS recall_at_5,
               h.n_hits, s.scanned_rows,
               CAST(coalesce(ql.qualifying_rows, 0) AS BIGINT) AS qualifying_rows,
               CAST(s.scanned_rows AS DOUBLE) / (h.nq * t.n_total) AS scan_frac
        FROM hits h JOIN scanned s USING (n_probe)
        LEFT JOIN qual ql USING (n_probe) CROSS JOIN tot t"""

  /** Filtered exact truth: brute cosine top-k restricted to corpus
    * rows sharing the query's label — the pre-filter form. */
  private lazy val filteredBruteOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
                   FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id,
                  ${cosSql("q.qv", "e.embedding")} AS cos
           FROM embeddings e
           JOIN q ON e.label = q.qlabel AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  /** Filtered IVF: the seed-IVF trajectory with the label carried in
    * the assignment and the predicate applied to the probed-list scan
    * — [[ivfSeedOracle]] plus one metadata column and one WHERE. */
  private lazy val filteredIvfOracle: String =
    s"""WITH c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, e.label, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM embeddings e CROSS JOIN c),
        assigned AS (SELECT vec_id, embedding, label, c_id FROM a WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
              FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, q.qlabel, c.c_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c),
        probe AS (SELECT query_id, qv, qlabel, c_id FROM qa WHERE rn <= 4),
        cand AS (
          SELECT p.query_id, s.vec_id,
                 ${cosSql("p.qv", "s.embedding")} AS cos
          FROM probe p JOIN assigned s ON p.c_id = s.c_id
          WHERE s.vec_id <> p.query_id AND s.label = p.qlabel),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  /** The seed-centroid IVF trajectory (centroids = first 16 vectors):
    * shared verbatim by `knn_ivf` (in-memory) and `knn_ivf_persisted`
    * (parquet round-trip) — the persisted path must be hash-identical
    * to the in-memory one. */
  private lazy val ivfSeedOracle: String = ivfSeedOracleOver("TRUE")

  /** The seed-IVF trajectory over a corpus subset — `corpusFilter`
    * restricts which rows are INDEXED (centroids and queries stay the
    * full-table seeds), so the same SQL oracles the live serve
    * (`TRUE`) and any historical LSM snapshot (the as-of query's
    * epoch prefix). */
  private def ivfSeedOracleOver(corpusFilter: String): String =
    s"""WITH c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM (SELECT * FROM embeddings WHERE $corpusFilter) e CROSS JOIN c),
        assigned AS (SELECT vec_id, embedding, c_id FROM a WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, c.c_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c),
        probe AS (SELECT query_id, qv, c_id FROM qa WHERE rn <= 4),
        cand AS (
          SELECT p.query_id, s.vec_id,
                 ${cosSql("p.qv", "s.embedding")} AS cos
          FROM probe p JOIN assigned s ON p.c_id = s.c_id
          WHERE s.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  private lazy val ivfTrainedOracle: String =
    s"""WITH $lloydCtes,
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, c.c_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c3 c),
        probe AS (SELECT query_id, qv, c_id FROM qa WHERE rn <= 4),
        cand AS (
          SELECT p.query_id, s.vec_id,
                 ${cosSql("p.qv", "s.embedding")} AS cos
          FROM probe p JOIN af s ON p.c_id = s.c_id
          WHERE s.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  /** dedup_semantic oracle: the SAME Lloyd trajectory as
    * [[ivfTrainedOracle]] (shared `lloydCtes`), then per cluster the
    * member with the best assignment cosine (ties → lowest vec_id). */
  private lazy val semanticDedupOracle: String =
    s"""WITH $lloydCtes,
        r AS (
          SELECT c_id, vec_id, cos,
                 row_number() OVER (PARTITION BY c_id
                                    ORDER BY cos DESC, vec_id ASC) AS rn,
                 count(*) OVER (PARTITION BY c_id) AS nm
          FROM af)
        SELECT c_id, vec_id AS keep_vec_id, CAST(nm AS BIGINT) AS n_members,
               round(cos, 6) AS keep_cos
        FROM r WHERE rn = 1"""

  /** Shared ADC CTE chain for the seed-codebook PQ oracles (knn_pq +
    * knn_pq_rescore's shortlist stage): encode → per-query LUTs → ADC
    * → `ranked` with the (adc ASC, vec_id ASC) total order. */
  private lazy val pqAdcCtes: String = {
    // sequential-double subspace squared distance, offset m*16
    def d2Sql(m: Int, a: String, b: String) =
      s"""list_reduce(list_transform(range(1, 17),
           i -> (CAST(($a)[${m * 16} + i] AS DOUBLE) - CAST(($b)[${m * 16} + i] AS DOUBLE)) *
                (CAST(($a)[${m * 16} + i] AS DOUBLE) - CAST(($b)[${m * 16} + i] AS DOUBLE))),
           (acc, x) -> acc + x)"""
    val encD2 = (0 until 4).map(m => s"${d2Sql(m, "e.embedding", "cb.cw")} AS d2_$m").mkString(",\n           ")
    val qD2 = (0 until 4).map(m => s"${d2Sql(m, "q.embedding", "cb.cw")} AS d2_$m").mkString(",\n           ")
    val codeCols = (0 until 4).map(m => s"first(k ORDER BY d2_$m ASC, k ASC) AS c$m").mkString(", ")
    val lutCols = (0 until 4).map(m => s"list(d2_$m ORDER BY k ASC) AS lut_$m").mkString(", ")
    val adc = (0 until 4).map(m => s"lut_$m[c$m + 1]").mkString(" + ")
    s"""cb AS (
          SELECT CAST(vec_id AS INT) AS k, embedding AS cw FROM embeddings WHERE vec_id < 16),
        enc AS (
          SELECT e.vec_id, cb.k,
           $encD2
          FROM embeddings e CROSS JOIN cb),
        codes AS (SELECT vec_id, $codeCols FROM enc GROUP BY vec_id),
        qenc AS (
          SELECT q.vec_id AS query_id, cb.k,
           $qD2
          FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 8),
        luts AS (SELECT query_id, $lutCols FROM qenc GROUP BY query_id),
        scored AS (
          SELECT query_id, vec_id, $adc AS adc_dist
          FROM codes CROSS JOIN luts WHERE vec_id <> query_id),
        ranked AS (
          SELECT query_id, vec_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, vec_id ASC) AS rank
          FROM scored)"""
  }

  /** knn_pq_trained oracle: for each of the 4 subspaces, slice the
    * corpus, replay 2 L2-Lloyd iterations (argmin d2 ties-to-lowest,
    * fixed-point means — Similarity.fpSum, REAL cast), re-key surviving codewords
    * densely, then encode + per-query LUTs + ADC + top-k — the exact
    * arithmetic of [[graft.operators.Similarity.pqKnnTrained]]. */
  private lazy val pqTrainedOracle: String = {
    val S = 4; val D = 16; val K = 16; val ITERS = 2
    // strict left-to-right Σ(a_i-b_i)² over two D-length lists
    def d2L(a: String, b: String) =
      s"""list_reduce(list_transform(range(1, ${D + 1}),
            i -> (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE)) *
                 (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE))),
            (acc, x) -> acc + x)"""
    def subCtes(m: Int): String = {
      val off = m * D
      val iterCtes = (1 to ITERS).map { i =>
        s"""a${m}_$i AS (
              SELECT vec_id, sv, cw_k FROM (
                SELECT s.vec_id, s.sv, c.cw_k,
                       row_number() OVER (PARTITION BY s.vec_id
                         ORDER BY ${d2L("s.sv", "c.cw")} ASC, c.cw_k ASC) AS rn
                FROM s$m s CROSS JOIN c${m}_${i - 1} c)
              WHERE rn = 1),
            c${m}_$i AS (
              SELECT cw_k, list(CAST(cx AS REAL) ORDER BY dim) AS cw FROM (
                SELECT cw_k, dim,
                       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 68719476736 + 0.5) AS BIGINT)) AS DOUBLE)
                       / count(*) / 68719476736 AS cx
                FROM (
                  SELECT cw_k, CAST(generate_subscripts(sv, 1) - 1 AS INT) AS dim,
                         unnest(sv) AS x
                  FROM a${m}_$i)
                GROUP BY 1, 2)
              GROUP BY cw_k)"""
      }.mkString(",\n")
      s"""s$m AS (
            SELECT vec_id, list_transform(range(1, ${D + 1}), i -> embedding[$off + i]) AS sv
            FROM embeddings),
          c${m}_0 AS (SELECT vec_id AS cw_k, sv AS cw FROM s$m WHERE vec_id < $K),
          $iterCtes,
          ct$m AS (
            SELECT row_number() OVER (ORDER BY cw_k) - 1 AS cw_k, cw
            FROM c${m}_$ITERS),
          code$m AS (
            SELECT vec_id, cw_k AS c$m FROM (
              SELECT s.vec_id, c.cw_k,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY ${d2L("s.sv", "c.cw")} ASC, c.cw_k ASC) AS rn
              FROM s$m s CROSS JOIN ct$m c)
            WHERE rn = 1),
          lut$m AS (
            SELECT query_id, list(d2v ORDER BY cw_k) AS lut_$m FROM (
              SELECT s.vec_id AS query_id, c.cw_k, ${d2L("s.sv", "c.cw")} AS d2v
              FROM s$m s CROSS JOIN ct$m c WHERE s.vec_id < 8)
            GROUP BY query_id)"""
    }
    val codesJoin = (1 until S).map(m => s"JOIN code$m USING (vec_id)").mkString(" ")
    val lutsJoin = (1 until S).map(m => s"JOIN lut$m USING (query_id)").mkString(" ")
    val adc = (0 until S).map(m => s"lut_$m[c$m + 1]").mkString(" + ")
    s"""WITH ${(0 until S).map(subCtes).mkString(",\n")},
        codes AS (SELECT * FROM code0 $codesJoin),
        luts AS (SELECT * FROM lut0 $lutsJoin),
        scored AS (
          SELECT query_id, vec_id, $adc AS adc_dist
          FROM codes CROSS JOIN luts WHERE vec_id <> query_id),
        ranked AS (
          SELECT query_id, vec_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, vec_id ASC) AS rank
          FROM scored)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
        FROM ranked WHERE rank <= 5"""
  }

  /** dedup_pair_eval oracle: replay the DEGRADED banding (8 planes ×
    * 4 bands, seed-42 weights as literals — the same stream
    * HyperplaneBandSignature draws, plane index b*planesPerBand+p),
    * the bucket cap, the exact-cosine verify, and the brute-force
    * truth, then fold both pair sets to precision/recall/F1 with the
    * engine's exact zero-guarded IEEE arithmetic. */
  private lazy val pairEvalOracle: String = {
    val ppb = 8; val bands = 4; val dim = 64
    val rnd = new scala.util.Random(42)
    val w = Array.fill(ppb * bands * dim)(rnd.nextGaussian())
    def projSql(plane: Int): String = {
      val lits = (0 until dim)
        .map(i => java.lang.Double.toString(w(plane * dim + i)))
        .mkString("[", ", ", "]")
      s"""list_reduce(list_transform(embedding,
            (x, i) -> CAST(x AS DOUBLE) * ($lits)[i]), (acc, v) -> acc + v)"""
    }
    def bandSigSql(b: Int): String =
      (0 until ppb).map(p =>
        s"(CASE WHEN ${projSql(b * ppb + p)} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
    val sigCols = (0 until bands)
      .map(b => s"${bandSigSql(b)} AS sig_$b").mkString(",\n          ")
    val okCtes = (0 until bands).map(b =>
      s"""ok$b AS (
            SELECT label, sig_$b AS sig FROM sig
            GROUP BY label, sig_$b HAVING count(*) BETWEEN 2 AND 4096)""")
      .mkString(",\n        ")
    val bandPairs = (0 until bands).map(b =>
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM sig a
          JOIN sig b ON a.label = b.label AND a.sig_$b = b.sig_$b
                    AND a.vec_id < b.vec_id
          JOIN ok$b ok ON ok.label = a.label AND ok.sig = a.sig_$b""")
      .mkString("\n          UNION ALL\n          ")
    s"""WITH sig AS (
          SELECT vec_id, label, embedding,
          $sigCols
          FROM embeddings),
        $okCtes,
        cand AS (SELECT DISTINCT a_id, b_id FROM ($bandPairs)),
        pred AS (
          SELECT c.a_id, c.b_id FROM cand c
          JOIN embeddings a ON a.vec_id = c.a_id
          JOIN embeddings b ON b.vec_id = c.b_id
          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
        tru AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
        m AS (
          SELECT CAST((SELECT count(*) FROM pred) AS BIGINT) AS n_predicted,
                 CAST((SELECT count(*) FROM tru) AS BIGINT) AS n_truth,
                 CAST((SELECT count(*) FROM pred JOIN tru USING (a_id, b_id))
                      AS BIGINT) AS n_hits),
        pr AS (
          SELECT n_predicted, n_truth, n_hits,
                 CASE WHEN n_predicted = 0 THEN 0.0
                      ELSE CAST(n_hits AS DOUBLE) / n_predicted END AS precision,
                 CASE WHEN n_truth = 0 THEN 0.0
                      ELSE CAST(n_hits AS DOUBLE) / n_truth END AS recall
          FROM m)
        SELECT n_predicted, n_truth, n_hits, precision, recall,
               CASE WHEN precision + recall = 0.0 THEN 0.0
                    ELSE ((2.0 * precision) * recall) / (precision + recall)
               END AS f1
        FROM pr"""
  }

  // brute-force first-principles near-dup definition — the banded-LSH
  // operator must reproduce it exactly (recall ~1 by construction)
  private val neardupOracle =
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ${cosSql("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35"""

  /** knn_sq8 trajectory (quantize → asymmetric dot → top-k), shared
    * verbatim by `knn_sq8` (in-memory) and `knn_sq8_delta` (persisted
    * base∪delta segments — quantization is per-vector, so the split
    * cannot change results). */
  private lazy val sq8Oracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
          cq AS (
            SELECT vec_id,
                   CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS scale,
                   CASE WHEN mx > 0
                        THEN list_transform(embedding,
                               x -> floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5))
                        ELSE list_transform(embedding, x -> 0.0) END AS code
            FROM (SELECT vec_id, embedding,
                    list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS mx
                  FROM embeddings)),
          scored AS (
            SELECT q.query_id, c.vec_id,
                   c.scale * list_reduce(
                     list_transform(c.code,
                       (x, i) -> CAST(x AS DOUBLE) * CAST((q.qv)[i] AS DOUBLE)),
                     (acc, x) -> acc + x) AS dot_sq8
            FROM cq c JOIN q ON c.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, vec_id, dot_sq8,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot_sq8 DESC, vec_id ASC) AS rank
            FROM scored)
         SELECT query_id, vec_id, CAST(rank AS INT) AS rank, dot_sq8
         FROM ranked WHERE rank <= 5"""

  /** knn_pq's full ADC ranking, shared verbatim by `knn_pq` and
    * `knn_pq_delta` (codes are a pure function of (vector, stored
    * codebook) — the base/delta split cannot change them). */
  private lazy val pqSeedOracle: String =
    s"""WITH $pqAdcCtes
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
        FROM ranked WHERE rank <= 5"""

  /** knn_ivfpq trajectory: coarse argmax-cosine assignment (smaller
    * c_id tie-break), element-wise double residuals, seeded residual
    * codebook, per-(query, probed-centroid) LUTs, ADC over probed
    * lists only — every fold left-to-right double, so the whole
    * IVFADC pipeline replays exactly. */
  private lazy val ivfPqSeedOracle: String =
    s"""WITH $ivfPqAdcChain
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
        FROM ranked WHERE rank <= 5"""

  /** knn_ivfpq_rescore's full ranking: the IVFADC chain's rank ≤ 50
    * shortlist, exactly re-scored and re-ranked (also the tier side
    * of knn_eval_ivfpq_rescore). */
  private lazy val ivfPqRescoreOracle: String =
    s"""WITH $ivfPqAdcChain,
        sl AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 50),
        resc AS (
          SELECT sl.query_id, sl.vec_id,
                 ${cosSql("q.embedding", "e.embedding")} AS cos
          FROM sl
          JOIN embeddings q ON q.vec_id = sl.query_id
          JOIN embeddings e ON e.vec_id = sl.vec_id),
        rr AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM resc)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM rr WHERE rank <= 5"""

  /** The full IVFADC CTE chain up to `ranked` — shared by
    * knn_ivfpq/knn_ivfpq_delta (top-5 select) and
    * knn_ivfpq_rescore (rank ≤ shortlist → exact rescore). */
  private lazy val ivfPqAdcChain: String = {
    // subspace-m squared L2 between two DOUBLE lists, offset m*16
    def d2Sql(m: Int, a: String, b: String) =
      s"""list_reduce(list_transform(range(1, 17),
           i -> (($a)[${m * 16} + i] - ($b)[${m * 16} + i]) *
                (($a)[${m * 16} + i] - ($b)[${m * 16} + i])),
           (acc, x) -> acc + x)"""
    def residSql(v: String, c: String) =
      s"""list_transform(range(1, 65),
            i -> CAST(($v)[i] AS DOUBLE) - CAST(($c)[i] AS DOUBLE))"""
    val encD2 = (0 until 4).map(m =>
      s"${d2Sql(m, "res.r", "cb.cw")} AS d2_$m").mkString(",\n           ")
    val qD2 = (0 until 4).map(m =>
      s"${d2Sql(m, "qres.qr", "cb.cw")} AS d2_$m").mkString(",\n           ")
    val codeCols = (0 until 4).map(m =>
      s"first(k ORDER BY d2_$m ASC, k ASC) AS c$m").mkString(", ")
    val lutCols = (0 until 4).map(m =>
      s"list(d2_$m ORDER BY k ASC) AS lut_$m").mkString(", ")
    val adc = (0 until 4).map(m => s"l.lut_$m[codes.c$m + 1]").mkString(" + ")
    s"""c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, c.c_id, c.c_vec,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM embeddings e CROSS JOIN c),
        res AS (
          SELECT vec_id, c_id, ${residSql("embedding", "c_vec")} AS r
          FROM a WHERE rn = 1),
        cb AS (SELECT CAST(vec_id AS INT) AS k, r AS cw FROM res WHERE vec_id < 16),
        enc AS (
          SELECT res.vec_id, res.c_id, cb.k,
           $encD2
          FROM res CROSS JOIN cb),
        codes AS (
          SELECT vec_id, min(c_id) AS c_id, $codeCols FROM enc GROUP BY vec_id),
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, c.c_id, c.c_vec,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c),
        qres AS (
          SELECT query_id, c_id, ${residSql("qv", "c_vec")} AS qr
          FROM qa WHERE rn <= 4),
        qenc AS (
          SELECT qres.query_id, qres.c_id, cb.k,
           $qD2
          FROM qres CROSS JOIN cb),
        luts AS (
          SELECT query_id, c_id, $lutCols FROM qenc GROUP BY query_id, c_id),
        scored AS (
          SELECT l.query_id, codes.vec_id, $adc AS adc_dist
          FROM codes JOIN luts l ON codes.c_id = l.c_id
          WHERE codes.vec_id <> l.query_id),
        ranked AS (
          SELECT query_id, vec_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, vec_id ASC) AS rank
          FROM scored)"""
  }

  /** dedup_semantic_probe_pq oracle: the seed IVFADC chain (assignment,
    * residuals, codes — over the FULL corpus: base 2/3 ∪ delta 1/3)
    * probed by the re-keyed shard at nProbe = 1 (each shard vector's
    * LUT against its OWN assigned centroid), ADC rank ≤ 8 shortlist
    * per shard vector, exact cosine only for shortlisted pairs, plus
    * exact within-shard same-list pairs — the engine's compressed
    * admission probe replayed bit-for-bit. */
  private lazy val semanticProbePqOracle: String = {
    def d2Sql(m: Int, a: String, b: String) =
      s"""list_reduce(list_transform(range(1, 17),
           i -> (($a)[${m * 16} + i] - ($b)[${m * 16} + i]) *
                (($a)[${m * 16} + i] - ($b)[${m * 16} + i])),
           (acc, x) -> acc + x)"""
    def residSql(v: String, c: String) =
      s"""list_transform(range(1, 65),
            i -> CAST(($v)[i] AS DOUBLE) - CAST(($c)[i] AS DOUBLE))"""
    val encD2 = (0 until 4).map(m =>
      s"${d2Sql(m, "res.r", "cb.cw")} AS d2_$m").mkString(",\n           ")
    val qD2 = (0 until 4).map(m =>
      s"${d2Sql(m, "qres.qr", "cb.cw")} AS d2_$m").mkString(",\n           ")
    val codeCols = (0 until 4).map(m =>
      s"first(k ORDER BY d2_$m ASC, k ASC) AS c$m").mkString(", ")
    val lutCols = (0 until 4).map(m =>
      s"list(d2_$m ORDER BY k ASC) AS lut_$m").mkString(", ")
    val adc = (0 until 4).map(m => s"l.lut_$m[codes.c$m + 1]").mkString(" + ")
    s"""WITH c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, c.c_id, c.c_vec,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM embeddings e CROSS JOIN c),
        res AS (
          SELECT vec_id, c_id, ${residSql("embedding", "c_vec")} AS r
          FROM a WHERE rn = 1),
        cb AS (SELECT CAST(vec_id AS INT) AS k, r AS cw FROM res WHERE vec_id < 16),
        enc AS (
          SELECT res.vec_id, res.c_id, cb.k,
           $encD2
          FROM res CROSS JOIN cb),
        codes AS (
          SELECT vec_id, min(c_id) AS c_id, $codeCols FROM enc GROUP BY vec_id),
        sa AS (
          SELECT vec_id, embedding, c_id, c_vec FROM (
            SELECT s.vec_id + 10000000000 AS vec_id, s.embedding, c.c_id, c.c_vec,
                   row_number() OVER (PARTITION BY s.vec_id
                     ORDER BY ${cosSql("s.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
            FROM embeddings s CROSS JOIN c WHERE s.vec_id % 5 = 0) WHERE rn = 1),
        qres AS (
          SELECT vec_id AS query_id, c_id, ${residSql("embedding", "c_vec")} AS qr
          FROM sa),
        qenc AS (
          SELECT qres.query_id, qres.c_id, cb.k,
           $qD2
          FROM qres CROSS JOIN cb),
        luts AS (
          SELECT query_id, c_id, $lutCols FROM qenc GROUP BY query_id, c_id),
        scored AS (
          SELECT l.query_id, codes.vec_id, $adc AS adc_dist
          FROM codes JOIN luts l ON codes.c_id = l.c_id),
        ranked AS (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, vec_id ASC) AS rank
          FROM scored),
        sl AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 8),
        crossp AS (
          SELECT least(i.vec_id, s.vec_id) AS a_id,
                 greatest(i.vec_id, s.vec_id) AS b_id,
                 ${cosSql("i.embedding", "s.embedding")} AS cos
          FROM sl
          JOIN embeddings i ON i.vec_id = sl.vec_id
          JOIN sa s ON s.vec_id = sl.query_id),
        withinp AS (
          SELECT s1.vec_id AS a_id, s2.vec_id AS b_id,
                 ${cosSql("s1.embedding", "s2.embedding")} AS cos
          FROM sa s1 JOIN sa s2 ON s1.c_id = s2.c_id AND s1.vec_id < s2.vec_id)
        SELECT a_id, b_id, cos
        FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp)
        WHERE cos >= 0.95"""
  }

  /** knn_eval_frontier_rescore oracle: the shared IVFADC chain's full
    * ranking, sliced per shortlist by a non-equi join, exactly
    * rescored and re-ranked per config, marked against the nested
    * brute truth — integer sums + single divisions only. */
  private lazy val rescoreFrontierOracle: String =
    s"""WITH $ivfPqAdcChain,
        tru AS (SELECT query_id, vec_id FROM ($bruteOracle)),
        ss AS (SELECT unnest([10, 25, 50]) AS shortlist),
        sl AS (
          SELECT ss.shortlist, r.query_id, r.vec_id
          FROM ss JOIN ranked r ON r.rank <= ss.shortlist),
        resc AS (
          SELECT sl.shortlist, sl.query_id, sl.vec_id,
                 ${cosSql("q.embedding", "e.embedding")} AS cos
          FROM sl
          JOIN embeddings q ON q.vec_id = sl.query_id
          JOIN embeddings e ON e.vec_id = sl.vec_id),
        rr AS (
          SELECT shortlist, query_id, vec_id,
                 row_number() OVER (PARTITION BY shortlist, query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM resc),
        rtop AS (SELECT shortlist, query_id, vec_id FROM rr WHERE rank <= 5),
        marked AS (
          SELECT ss.shortlist, t.query_id,
                 CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM ss CROSS JOIN tru t
          LEFT JOIN rtop r ON r.shortlist = ss.shortlist
            AND r.query_id = t.query_id AND r.vec_id = t.vec_id),
        hits AS (
          SELECT shortlist, CAST(sum(hit) AS BIGINT) AS n_hits,
                 CAST(count(DISTINCT query_id) AS BIGINT) AS nq
          FROM marked GROUP BY 1),
        cost AS (
          SELECT shortlist, CAST(count(*) AS BIGINT) AS rescored_rows
          FROM sl GROUP BY 1)
        SELECT h.shortlist,
               CAST(h.n_hits AS DOUBLE) / (h.nq * 5) AS recall_at_5,
               h.n_hits, c.rescored_rows
        FROM hits h JOIN cost c USING (shortlist)"""

  /** The aHash signature CTE chain — every hash bit recomputed from
    * the closed-form BMP pixel formula (exact integer luma sums,
    * cross-multiplied cell-vs-image mean threshold) — shared by the
    * mm_neardup family (batch pairs, clusters, delta serve, probe). */
  private[queries] lazy val mmSigCtes: String =
    """a AS (
           SELECT doc_id AS asset_id,
                  CAST(doc_id % 16 + 8 AS INT) AS width,
                  CAST(doc_id % 12 + 8 AS INT) AS height
           FROM documents),
         px AS (
           SELECT asset_id, width, height, tx.x AS x, ty.y AS y
           FROM a, range(23) tx(x), range(19) ty(y)
           WHERE tx.x < width AND ty.y < height),
         g AS (
           SELECT asset_id,
                  CAST((y * 8) // height * 8 + (x * 8) // width AS INT) AS i,
                  ((asset_id*31 + x*7 + y*13) % 256) * 299
                + ((asset_id*17 + x*5 + y*11) % 256) * 587
                + ((asset_id*29 + x*3 + y*19) % 256) * 114 AS gray
           FROM px),
         cells AS (SELECT asset_id, i, sum(gray) AS cs, count(*) AS cn FROM g GROUP BY 1, 2),
         tot AS (SELECT asset_id, sum(gray) AS ts, count(*) AS tn FROM g GROUP BY 1),
         bits AS (
           SELECT c.asset_id, c.i,
                  CASE WHEN c.cs * t.tn > t.ts * c.cn THEN 1 ELSE 0 END AS bit
           FROM cells c JOIN tot t USING (asset_id)),
         sigs AS (
           SELECT asset_id,
                  CAST(SUM(CASE WHEN i < 16 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c0,
                  CAST(SUM(CASE WHEN i >= 16 AND i < 32 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c1,
                  CAST(SUM(CASE WHEN i >= 32 AND i < 48 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c2,
                  CAST(SUM(CASE WHEN i >= 48 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c3
           FROM bits GROUP BY asset_id)"""

  /** mm_neardup / mm_neardup_delta oracle: all-pairs hamming over the
    * aHash signatures — exhaustively equal to the engine's
    * pigeonhole-blocked pair set at hamming ≤ 3; the persisted
    * HammingIndex serve is bit-identical over any base∪delta split
    * (4-int signatures round-trip parquet exactly), so both queries
    * share this oracle verbatim. */
  private lazy val mmNearDupOracle: String =
    s"""WITH $mmSigCtes
         SELECT * FROM (
           SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                  CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                       bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER) AS hamming
           FROM sigs a JOIN sigs b ON a.asset_id < b.asset_id)
         WHERE hamming <= 3"""

  /** mm_neardup_probe oracle: a re-keyed shard of signatures probed
    * against the indexed corpus ∪ itself — the all-pairs restriction
    * to shard-touching pairs (the pigeonhole blocking is exhaustive at
    * hamming ≤ 3, so the engine's chunk-bucket probe equals it). */
  private lazy val mmProbeOracle: String =
    s"""WITH $mmSigCtes,
        ssig AS (
          SELECT asset_id + 10000000000 AS asset_id, c0, c1, c2, c3
          FROM sigs WHERE asset_id % 5 = 0),
        crossp AS (
          SELECT i.asset_id AS a_id, s.asset_id AS b_id,
                 CAST(bit_count(xor(i.c0, s.c0)) + bit_count(xor(i.c1, s.c1)) +
                      bit_count(xor(i.c2, s.c2)) + bit_count(xor(i.c3, s.c3)) AS INTEGER) AS hamming
          FROM sigs i CROSS JOIN ssig s),
        withinp AS (
          SELECT s1.asset_id AS a_id, s2.asset_id AS b_id,
                 CAST(bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1)) +
                      bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3)) AS INTEGER) AS hamming
          FROM ssig s1 JOIN ssig s2 ON s1.asset_id < s2.asset_id)
        SELECT a_id, b_id, hamming
        FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp)
        WHERE hamming <= 3"""

  /** mm_neardup_capped oracle: the skew-capped pair law modeled from
    * first principles — per-(chunk, value) bucket counts over the
    * signatures, and a hamming ≤ 3 pair qualifies iff SOME matching
    * chunk's bucket holds ≤ maxBucket members (a saturated bucket
    * contributes no pairs; a pair survives through any unsaturated
    * matching chunk — exactly the engine's dropped-whole contract). */
  private lazy val mmCappedOracle: String =
    s"""WITH $mmSigCtes,
        bc AS (
          SELECT chunk, v, count(*) AS n FROM (
            SELECT 0 AS chunk, c0 AS v FROM sigs
            UNION ALL SELECT 1, c1 FROM sigs
            UNION ALL SELECT 2, c2 FROM sigs
            UNION ALL SELECT 3, c3 FROM sigs) GROUP BY 1, 2),
        hp AS (
          SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                 a.c0 AS ac0, a.c1 AS ac1, a.c2 AS ac2, a.c3 AS ac3,
                 b.c0 AS bc0, b.c1 AS bc1, b.c2 AS bc2, b.c3 AS bc3,
                 CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                      bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER) AS hamming
          FROM sigs a JOIN sigs b ON a.asset_id < b.asset_id
          WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3)
        SELECT a_id, b_id, hamming FROM hp x
        WHERE EXISTS (
          SELECT 1 FROM bc
          WHERE ((bc.chunk = 0 AND x.ac0 = x.bc0 AND bc.v = x.ac0)
              OR (bc.chunk = 1 AND x.ac1 = x.bc1 AND bc.v = x.ac1)
              OR (bc.chunk = 2 AND x.ac2 = x.bc2 AND bc.v = x.ac2)
              OR (bc.chunk = 3 AND x.ac3 = x.bc3 AND bc.v = x.ac3))
            AND bc.n <= 32)"""

  /** The audio-fingerprint signature CTE chain — every bit recomputed
    * from the closed-form WAV sample formula (exact integer frame
    * energies over 64 fixed frames, strict delta-sign threshold with
    * the wrap delta as bit 63) — the audio analogue of [[mmSigCtes]]. */
  private lazy val audioSigCtes: String =
    """aa AS (
           SELECT doc_id AS asset_id, CAST(doc_id % 400 + 100 AS INT) AS n
           FROM documents),
         sm AS (
           SELECT asset_id, n, t.i AS i,
                  ((asset_id*37 + t.i*101) % 65536) - 32768 AS s
           FROM aa, range(499) t(i) WHERE t.i < n),
         fe AS (
           SELECT asset_id, CAST((i * 64) // n AS INT) AS f,
                  sum(s * s) AS e
           FROM sm GROUP BY 1, 2),
         ab AS (
           SELECT a.asset_id, a.f AS f,
                  CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
           FROM fe a JOIN fe b
             ON a.asset_id = b.asset_id AND b.f = (a.f + 1) % 64),
         asigs AS (
           SELECT asset_id,
                  CAST(SUM(CASE WHEN f < 16 THEN (bit << (f % 16)) ELSE 0 END) AS INTEGER) AS c0,
                  CAST(SUM(CASE WHEN f >= 16 AND f < 32 THEN (bit << (f % 16)) ELSE 0 END) AS INTEGER) AS c1,
                  CAST(SUM(CASE WHEN f >= 32 AND f < 48 THEN (bit << (f % 16)) ELSE 0 END) AS INTEGER) AS c2,
                  CAST(SUM(CASE WHEN f >= 48 THEN (bit << (f % 16)) ELSE 0 END) AS INTEGER) AS c3
           FROM ab GROUP BY asset_id)"""

  /** The video-fingerprint signature CTE chain — per-frame aHash bits
    * recomputed from the closed-form frame-pixel formula (exact
    * integer luma sums per (frame, cell), cross-multiplied
    * cell-vs-frame mean threshold), folded by strict temporal
    * majority (2·votes > n_frames) into the 4×16-bit chunks. */
  private[queries] lazy val videoSigCtes: String =
    """va AS (
           SELECT doc_id AS asset_id, CAST(doc_id % 6 + 4 AS INT) AS nf,
                  CAST(doc_id % 16 + 8 AS INT) AS width,
                  CAST(doc_id % 12 + 8 AS INT) AS height
           FROM documents),
         vpx AS (
           SELECT asset_id, nf, width, height, tf.f AS f, tx.x AS x, ty.y AS y
           FROM va, range(9) tf(f), range(23) tx(x), range(19) ty(y)
           WHERE tf.f < nf AND tx.x < width AND ty.y < height),
         vg AS (
           SELECT asset_id, nf, f,
                  CAST((y * 8) // height * 8 + (x * 8) // width AS INT) AS i,
                  ((asset_id*31 + f*41 + x*7 + y*13) % 256) * 299
                + ((asset_id*17 + f*23 + x*5 + y*11) % 256) * 587
                + ((asset_id*29 + f*47 + x*3 + y*19) % 256) * 114 AS gray
           FROM vpx),
         vcells AS (SELECT asset_id, nf, f, i, sum(gray) AS cs, count(*) AS cn FROM vg GROUP BY 1, 2, 3, 4),
         vtot AS (SELECT asset_id, f, sum(gray) AS ts, count(*) AS tn FROM vg GROUP BY 1, 2),
         vbits AS (
           SELECT c.asset_id, c.nf, c.f, c.i,
                  CASE WHEN c.cs * t.tn > t.ts * c.cn THEN 1 ELSE 0 END AS bit
           FROM vcells c JOIN vtot t ON c.asset_id = t.asset_id AND c.f = t.f),
         vmaj AS (
           SELECT asset_id, i,
                  CASE WHEN 2 * sum(bit) > any_value(nf) THEN 1 ELSE 0 END AS bit
           FROM vbits GROUP BY asset_id, i),
         vsigs AS (
           SELECT asset_id,
                  CAST(SUM(CASE WHEN i < 16 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c0,
                  CAST(SUM(CASE WHEN i >= 16 AND i < 32 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c1,
                  CAST(SUM(CASE WHEN i >= 32 AND i < 48 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c2,
                  CAST(SUM(CASE WHEN i >= 48 THEN (bit << (i % 16)) ELSE 0 END) AS INTEGER) AS c3
           FROM vmaj GROUP BY asset_id)"""

  /** mm_video_neardup oracle: the re-keyed shard probed against the
    * indexed video fingerprints ∪ itself — [[mmProbeOracle]]'s
    * all-pairs-restriction law over the video signature chain. */
  private lazy val mmVideoOracle: String =
    s"""WITH $videoSigCtes,
        ssig AS (
          SELECT asset_id + 10000000000 AS asset_id, c0, c1, c2, c3
          FROM vsigs WHERE asset_id % 5 = 0),
        crossp AS (
          SELECT i.asset_id AS a_id, s.asset_id AS b_id,
                 CAST(bit_count(xor(i.c0, s.c0)) + bit_count(xor(i.c1, s.c1)) +
                      bit_count(xor(i.c2, s.c2)) + bit_count(xor(i.c3, s.c3)) AS INTEGER) AS hamming
          FROM vsigs i CROSS JOIN ssig s),
        withinp AS (
          SELECT s1.asset_id AS a_id, s2.asset_id AS b_id,
                 CAST(bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1)) +
                      bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3)) AS INTEGER) AS hamming
          FROM ssig s1 JOIN ssig s2 ON s1.asset_id < s2.asset_id)
        SELECT a_id, b_id, hamming
        FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp)
        WHERE hamming <= 3"""

  /** mm_video_clusters oracle: natural all-pairs video fingerprint
    * graph (no plants), then the recursive min-label closure. */
  private lazy val mmVideoPairsOracle: String =
    s"""WITH $videoSigCtes
         SELECT * FROM (
           SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                  CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                       bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER) AS hamming
           FROM vsigs a JOIN vsigs b ON a.asset_id < b.asset_id)
         WHERE hamming <= 3"""

  /** mm_video_capped oracle: [[mmCappedOracle]]'s first-principles
    * capped law over the video signature chain — per-(chunk, value)
    * bucket counts, a hamming ≤ 3 pair qualifies iff SOME matching
    * chunk's bucket holds ≤ 32 members. */
  private lazy val mmVideoCappedOracle: String =
    s"""WITH $videoSigCtes,
        bc AS (
          SELECT chunk, v, count(*) AS n FROM (
            SELECT 0 AS chunk, c0 AS v FROM vsigs
            UNION ALL SELECT 1, c1 FROM vsigs
            UNION ALL SELECT 2, c2 FROM vsigs
            UNION ALL SELECT 3, c3 FROM vsigs) GROUP BY 1, 2),
        hp AS (
          SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                 a.c0 AS ac0, a.c1 AS ac1, a.c2 AS ac2, a.c3 AS ac3,
                 b.c0 AS bc0, b.c1 AS bc1, b.c2 AS bc2, b.c3 AS bc3,
                 CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                      bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER) AS hamming
          FROM vsigs a JOIN vsigs b ON a.asset_id < b.asset_id
          WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3)
        SELECT a_id, b_id, hamming FROM hp x
        WHERE EXISTS (
          SELECT 1 FROM bc
          WHERE ((bc.chunk = 0 AND x.ac0 = x.bc0 AND bc.v = x.ac0)
              OR (bc.chunk = 1 AND x.ac1 = x.bc1 AND bc.v = x.ac1)
              OR (bc.chunk = 2 AND x.ac2 = x.bc2 AND bc.v = x.ac2)
              OR (bc.chunk = 3 AND x.ac3 = x.bc3 AND bc.v = x.ac3))
            AND bc.n <= 32)"""

  /** mm_audio_clusters_capped's pair stage: [[mmCappedOracle]]'s
    * first-principles capped law over the audio signature chain. */
  private lazy val mmAudioCappedOracle: String =
    s"""WITH $audioSigCtes,
        bc AS (
          SELECT chunk, v, count(*) AS n FROM (
            SELECT 0 AS chunk, c0 AS v FROM asigs
            UNION ALL SELECT 1, c1 FROM asigs
            UNION ALL SELECT 2, c2 FROM asigs
            UNION ALL SELECT 3, c3 FROM asigs) GROUP BY 1, 2),
        hp AS (
          SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                 a.c0 AS ac0, a.c1 AS ac1, a.c2 AS ac2, a.c3 AS ac3,
                 b.c0 AS bc0, b.c1 AS bc1, b.c2 AS bc2, b.c3 AS bc3,
                 CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                      bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER) AS hamming
          FROM asigs a JOIN asigs b ON a.asset_id < b.asset_id
          WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3)
        SELECT a_id, b_id, hamming FROM hp x
        WHERE EXISTS (
          SELECT 1 FROM bc
          WHERE ((bc.chunk = 0 AND x.ac0 = x.bc0 AND bc.v = x.ac0)
              OR (bc.chunk = 1 AND x.ac1 = x.bc1 AND bc.v = x.ac1)
              OR (bc.chunk = 2 AND x.ac2 = x.bc2 AND bc.v = x.ac2)
              OR (bc.chunk = 3 AND x.ac3 = x.bc3 AND bc.v = x.ac3))
            AND bc.n <= 32)"""

  /** The capped decision chain's closure, shared by the three
    * *_clusters_capped oracles: capped pairs → recursive min-label
    * reachability fixpoint → survivor bit (min id of the cluster). */
  private def cappedClustersOracle(pairsSql: String): String =
    s"""WITH RECURSIVE pr AS ($pairsSql),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pr
          UNION ALL SELECT b_id, a_id FROM pr),
        nodes AS (SELECT DISTINCT src AS aid FROM edges),
        reach AS (
          SELECT aid, aid AS lab FROM nodes
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.aid)
        SELECT aid AS asset_id, CAST(min(lab) AS BIGINT) AS cluster_id,
               aid = min(lab) AS is_survivor
        FROM reach GROUP BY aid"""

  /** mm_audio_clusters oracle: the natural all-pairs fingerprint
    * graph (no plants) — the recursive-CTE min-label closure then
    * mirrors [[Dedup.connectedComponents]] exactly. */
  private lazy val mmAudioPairsOracle: String =
    s"""WITH $audioSigCtes
         SELECT * FROM (
           SELECT a.asset_id AS a_id, b.asset_id AS b_id,
                  CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                       bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS INTEGER) AS hamming
           FROM asigs a JOIN asigs b ON a.asset_id < b.asset_id)
         WHERE hamming <= 3"""

  /** mm_audio_neardup oracle: the re-keyed shard probed against the
    * indexed fingerprints ∪ itself — the all-pairs restriction to
    * shard-touching pairs, exactly [[mmProbeOracle]]'s law over the
    * audio signature chain. */
  private lazy val mmAudioOracle: String =
    s"""WITH $audioSigCtes,
        ssig AS (
          SELECT asset_id + 10000000000 AS asset_id, c0, c1, c2, c3
          FROM asigs WHERE asset_id % 5 = 0),
        crossp AS (
          SELECT i.asset_id AS a_id, s.asset_id AS b_id,
                 CAST(bit_count(xor(i.c0, s.c0)) + bit_count(xor(i.c1, s.c1)) +
                      bit_count(xor(i.c2, s.c2)) + bit_count(xor(i.c3, s.c3)) AS INTEGER) AS hamming
          FROM asigs i CROSS JOIN ssig s),
        withinp AS (
          SELECT s1.asset_id AS a_id, s2.asset_id AS b_id,
                 CAST(bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1)) +
                      bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3)) AS INTEGER) AS hamming
          FROM ssig s1 JOIN ssig s2 ON s1.asset_id < s2.asset_id)
        SELECT a_id, b_id, hamming
        FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp)
        WHERE hamming <= 3"""

  /** knn_eval_frontier oracle: one shared assignment + probe ranking,
    * the brute truth as a nested-WITH subquery, candidates per config
    * via the non-equi `rn <= n_probe` join, then exact integer hit /
    * scanned-row sums and single divisions — the whole frontier
    * replayed bit-for-bit. */
  private lazy val frontierOracle: String =
    s"""WITH c AS (
          SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
        a AS (
          SELECT e.vec_id, e.embedding, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM embeddings e CROSS JOIN c),
        assigned AS (SELECT vec_id, embedding, c_id FROM a WHERE rn = 1),
        cnts AS (SELECT c_id, count(*) AS cnt FROM assigned GROUP BY 1),
        tot AS (SELECT count(*) AS n_total FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, c.c_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c),
        tru AS (SELECT query_id, vec_id FROM ($bruteOracle)),
        ps AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
        cand AS (
          SELECT ps.n_probe, qa.query_id, s.vec_id,
                 ${cosSql("qa.qv", "s.embedding")} AS cos
          FROM ps JOIN qa ON qa.rn <= ps.n_probe
          JOIN assigned s ON s.c_id = qa.c_id
          WHERE s.vec_id <> qa.query_id),
        ranked AS (
          SELECT n_probe, query_id, vec_id,
                 row_number() OVER (PARTITION BY n_probe, query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand),
        res AS (SELECT n_probe, query_id, vec_id FROM ranked WHERE rank <= 5),
        marked AS (
          SELECT ps.n_probe, t.query_id,
                 CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM ps CROSS JOIN tru t
          LEFT JOIN res r ON r.n_probe = ps.n_probe
            AND r.query_id = t.query_id AND r.vec_id = t.vec_id),
        hits AS (
          SELECT n_probe, CAST(sum(hit) AS BIGINT) AS n_hits,
                 CAST(count(DISTINCT query_id) AS BIGINT) AS nq
          FROM marked GROUP BY 1),
        scanned AS (
          SELECT ps.n_probe, CAST(sum(cnts.cnt) AS BIGINT) AS scanned_rows
          FROM ps JOIN qa ON qa.rn <= ps.n_probe
          JOIN cnts ON cnts.c_id = qa.c_id
          GROUP BY 1)
        SELECT h.n_probe,
               CAST(h.n_hits AS DOUBLE) / (h.nq * 5) AS recall_at_5,
               h.n_hits, s.scanned_rows,
               CAST(s.scanned_rows AS DOUBLE) / (h.nq * t.n_total) AS scan_frac
        FROM hits h JOIN scanned s USING (n_probe) CROSS JOIN tot t"""

  /** knn_binary trajectory (sign-disagreement hamming → top-k,
    * representation-independent), shared verbatim by `knn_binary`
    * (in-memory) and `knn_binary_delta` (persisted base∪delta
    * segments — packing is per-vector, so the split cannot change
    * results). */
  private lazy val binaryOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 CAST(len(list_filter(range(1, len(e.embedding) + 1),
                     i -> (qv[i] > 0.0) != (e.embedding[i] > 0.0))) AS INT) AS hamming
          FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, hamming,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY hamming ASC, vec_id ASC) AS rank
          FROM scored)
       SELECT query_id, vec_id, CAST(rank AS INT) AS rank, hamming
       FROM ranked WHERE rank <= 5"""

  /** knn_brute's exact-cosine ranking — the flagship truth side of
    * every tier-vs-truth evaluation. */
  // the hybrid-RRF replay CTE chain (corpus → scored → per-list
  // top-20s → fused → rk with the final fusion ranking); consumers
  // cut rk at their k
  private lazy val hybridRrfCtes: String =
    s"""corpus AS MATERIALIZED (
            SELECT e.vec_id,
                   list_distinct(list_filter(
                     string_split_regex(lower(d.text), '\\s+'),
                     t -> len(t) > 0)) AS toks,
                   e.embedding
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
          q AS (SELECT vec_id AS query_id, toks AS qt, embedding AS qv
                FROM corpus WHERE vec_id < 8),
          scored AS MATERIALIZED (
            SELECT q.query_id, c.vec_id,
                   ${cosSql("q.qv", "c.embedding")} AS cos,
                   CAST(len(list_intersect(q.qt, c.toks)) AS DOUBLE)
                     / (len(q.qt) + len(c.toks)
                        - len(list_intersect(q.qt, c.toks))) AS jac
            FROM corpus c JOIN q ON c.vec_id <> q.query_id),
          dm AS (SELECT query_id, vec_id, r FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, vec_id ASC) AS r
              FROM scored) WHERE r <= 20),
          lm AS (SELECT query_id, vec_id, r FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY jac DESC, vec_id ASC) AS r
              FROM scored) WHERE r <= 20),
          $hybridFusionTailSql"""

  /** The RRF fusion tail shared by the exact and persisted hybrid
    * oracles — dm/lm are the two (query_id, vec_id, r ≤ 20) rankings,
    * fusion and final ranking identical regardless of their source
    * (the [[Similarity.rrfFuse]] contract). */
  private lazy val hybridFusionTailSql: String =
    """fused AS (
            SELECT coalesce(dm.query_id, lm.query_id) AS query_id,
                   coalesce(dm.vec_id, lm.vec_id) AS doc_id,
                   coalesce(dm.r, 0) AS dr, coalesce(lm.r, 0) AS lr,
                   coalesce(CAST(1 AS DOUBLE) / (60 + dm.r),
                            CAST(0 AS DOUBLE))
                     + coalesce(CAST(1 AS DOUBLE) / (60 + lm.r),
                                CAST(0 AS DOUBLE)) AS rrf
            FROM dm FULL OUTER JOIN lm
              ON dm.query_id = lm.query_id AND dm.vec_id = lm.vec_id),
          rk AS (SELECT query_id, doc_id, dr, lr, rrf,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY rrf DESC, doc_id ASC) AS rank
                 FROM fused)"""

  /** knn_hybrid_rrf_persisted's CTE chain: the same joined corpus and
    * lexical ranking as [[hybridRrfCtes]], with the dense ranking
    * swapped for the seed-IVF trajectory (assign → probe 4 lists →
    * score probed candidates only) — then the shared fusion tail. */
  private lazy val hybridRrfPersistedCtes: String =
    s"""corpus AS MATERIALIZED (
            SELECT e.vec_id,
                   list_distinct(list_filter(
                     string_split_regex(lower(d.text), '\\s+'),
                     t -> len(t) > 0)) AS toks,
                   e.embedding
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
          c AS (SELECT vec_id AS c_id, embedding AS c_vec
                FROM embeddings WHERE vec_id < 16),
          a AS (
            SELECT s.vec_id, s.embedding, c.c_id,
                   row_number() OVER (PARTITION BY s.vec_id
                     ORDER BY ${cosSql("s.embedding", "c.c_vec")} DESC,
                              c.c_id ASC) AS rn
            FROM corpus s CROSS JOIN c),
          assigned AS (SELECT vec_id, embedding, c_id FROM a WHERE rn = 1),
          q AS (SELECT vec_id AS query_id, toks AS qt, embedding AS qv
                FROM corpus WHERE vec_id < 8),
          qa AS (
            SELECT q.query_id, q.qv, c.c_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC,
                              c.c_id ASC) AS rn
            FROM q CROSS JOIN c),
          probe AS (SELECT query_id, qv, c_id FROM qa WHERE rn <= 4),
          dm AS (SELECT query_id, vec_id, r FROM (
              SELECT p.query_id, s.vec_id,
                     row_number() OVER (PARTITION BY p.query_id
                       ORDER BY ${cosSql("p.qv", "s.embedding")} DESC,
                                s.vec_id ASC) AS r
              FROM probe p JOIN assigned s ON p.c_id = s.c_id
              WHERE s.vec_id <> p.query_id) WHERE r <= 20),
          lm AS (SELECT query_id, vec_id, r FROM (
              SELECT q.query_id, s.vec_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY CAST(len(list_intersect(q.qt, s.toks)) AS DOUBLE)
                           / (len(q.qt) + len(s.toks)
                              - len(list_intersect(q.qt, s.toks))) DESC,
                                s.vec_id ASC) AS r
              FROM corpus s JOIN q ON s.vec_id <> q.query_id) WHERE r <= 20),
          $hybridFusionTailSql"""

  private lazy val bruteOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id,
                  ${cosSql("q.qv", "e.embedding")} AS cos
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  /** Tier-vs-truth evaluation oracle composer: the tier's own full
    * ranking oracle and the exact-cosine truth ride as nested-WITH CTE
    * subqueries; truth rows are marked hit when the tier surfaced
    * them, then folded to recall@5 / MRR / n_hits. TRUTH-driven, like
    * retrievalEval: a query the tier returned nothing for still
    * reports zeros. Divisions are forced to DOUBLE (DuckDB's literal
    * arithmetic is decimal-typed and would round differently). */
  /** knn_eval_frontier_scalar oracle: one row per full-scan tier —
    * each tier's exact top-5 replayed (the shared per-tier oracles),
    * hits vs the shared brute truth, and the byte accounting from
    * corpus stats (n_total, dims) — `(n_total − 1) · bytes_per_vec`
    * exactly as the engine computes it. */
  private lazy val scalarFrontierOracle: String = {
    def row(name: String, resSql: String, bytes: String) =
      s"""SELECT '$name' AS tier,
            CAST(h.hits AS DOUBLE) / (h.nq * 5) AS recall_at_5,
            CAST(h.hits AS BIGINT) AS n_hits,
            CAST($bytes AS BIGINT) AS bytes_per_vec,
            CAST((st.n_total - 1) * ($bytes) AS BIGINT) AS scanned_bytes
          FROM (
            SELECT sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
                   count(DISTINCT t.query_id) AS nq
            FROM tru t LEFT JOIN ($resSql) r
              ON r.query_id = t.query_id AND r.vec_id = t.vec_id) h, st"""
    s"""WITH tru AS ($bruteOracle),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                      CAST(max(len(embedding)) AS BIGINT) AS dims
               FROM embeddings)
        ${row("float32_brute", "SELECT * FROM tru", "st.dims * 4")}
        UNION ALL ${row("sq8", sq8Oracle, "st.dims + 8")}
        UNION ALL ${row("binary", binaryOracle, "((st.dims + 63) // 64) * 8")}
        UNION ALL ${row("pq", pqSeedOracle, "4")}"""
  }

  private def evalOracle(tierSql: String): String =
    evalOracleVs(tierSql, bruteOracle)

  /** [[evalOracle]] with an explicit truth side — for tiers whose
    * natural ground truth is not vector-level brute cosine (MaxSim is
    * doc-level, so its truth is brute cosine over mean-pooled docs). */
  private def evalOracleVs(tierSql: String, truthSql: String): String =
    s"""WITH res AS ($tierSql),
         tru AS ($truthSql),
         marked AS (
           SELECT t.query_id, r.rank,
                  CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM tru t LEFT JOIN res r
             ON r.query_id = t.query_id AND r.vec_id = t.vec_id)
        SELECT query_id,
               CAST(sum(hit) AS DOUBLE) / 5 AS recall_at_5,
               coalesce(max(CASE WHEN hit = 1
                                 THEN CAST(1 AS DOUBLE) / rank END),
                        CAST(0 AS DOUBLE)) AS mrr,
               CAST(sum(hit) AS BIGINT) AS n_hits
        FROM marked GROUP BY query_id"""

  /** knn_ivfpq_trained oracle: BOTH trainings replayed — the shared
    * 3-round cosine-Lloyd coarse trajectory (`lloydCtes`, identical to
    * knn_ivf_trained's), double residuals against the trained c3,
    * then per subspace a 2-round L2 Lloyd over the residual slices
    * (argmin d2 ties→lowest cw_k; means = the family's exact 2^36
    * fixed-point sums divided in double, rounded to REAL — see
    * Similarity.fpSum: the old decimal recipe was engine-ambiguous
    * at the 15th digit),
    * dense per-m re-key, encode, per-(query, probed
    * centroid) LUTs from the query's residual against THAT centroid,
    * ADC, top-k. Every fold left-to-right double. */
  private lazy val ivfPqTrainedOracle: String = {
    val S = 4; val D = 16; val K = 16; val ITERS = 2
    // strict left-to-right Σ(a_i−b_i)² over two D-length DOUBLE lists
    def d2L(a: String, b: String) =
      s"""list_reduce(list_transform(range(1, ${D + 1}),
            i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])),
            (acc, x) -> acc + x)"""
    def residSql(v: String, c: String) =
      s"""list_transform(range(1, ${S * D + 1}),
            i -> CAST(($v)[i] AS DOUBLE) - CAST(($c)[i] AS DOUBLE))"""
    def subCtes(m: Int): String = {
      val off = m * D
      val iterCtes = (1 to ITERS).map { i =>
        s"""ra${m}_$i AS (
              SELECT vec_id, sv, cw_k FROM (
                SELECT s.vec_id, s.sv, c.cw_k,
                       row_number() OVER (PARTITION BY s.vec_id
                         ORDER BY ${d2L("s.sv", "c.cw")} ASC, c.cw_k ASC) AS rn
                FROM rs$m s CROSS JOIN rc${m}_${i - 1} c)
              WHERE rn = 1),
            rc${m}_$i AS (
              SELECT cw_k, list(CAST(cx AS REAL) ORDER BY dim) AS cw FROM (
                SELECT cw_k, dim,
                       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 68719476736 + 0.5) AS BIGINT)) AS DOUBLE)
                       / count(*) / 68719476736 AS cx
                FROM (
                  SELECT cw_k, CAST(generate_subscripts(sv, 1) - 1 AS INT) AS dim,
                         unnest(sv) AS x
                  FROM ra${m}_$i)
                GROUP BY 1, 2)
              GROUP BY cw_k)"""
      }.mkString(",\n")
      s"""rs$m AS (
            SELECT vec_id, list_transform(range(1, ${D + 1}), i -> r[$off + i]) AS sv
            FROM res),
          rc${m}_0 AS (SELECT CAST(vec_id AS INT) AS cw_k, sv AS cw FROM rs$m WHERE vec_id < $K),
          $iterCtes,
          rct$m AS (
            SELECT CAST(row_number() OVER (ORDER BY cw_k) - 1 AS INT) AS cw_k, cw
            FROM rc${m}_$ITERS),
          rcode$m AS (
            SELECT vec_id, cw_k AS c$m FROM (
              SELECT s.vec_id, c.cw_k,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY ${d2L("s.sv", "c.cw")} ASC, c.cw_k ASC) AS rn
              FROM rs$m s CROSS JOIN rct$m c)
            WHERE rn = 1),
          rlut$m AS (
            SELECT query_id, c_id, list(d2v ORDER BY cw_k) AS lut_$m FROM (
              SELECT p.query_id, p.c_id, c.cw_k,
                     ${d2L(s"list_transform(range(1, ${D + 1}), i -> p.qr[$off + i])", "c.cw")} AS d2v
              FROM qres p CROSS JOIN rct$m c)
            GROUP BY query_id, c_id)"""
    }
    val codesJoin = (1 until S).map(m => s"JOIN rcode$m USING (vec_id)").mkString(" ")
    val lutsJoin = (1 until S).map(m => s"JOIN rlut$m USING (query_id, c_id)").mkString(" ")
    val adc = (0 until S).map(m => s"l.lut_$m[codes.c$m + 1]").mkString(" + ")
    s"""WITH $lloydCtes,
        res AS (
          SELECT a.vec_id, a.c_id, ${residSql("a.embedding", "c.c_vec")} AS r
          FROM af a JOIN c3 c USING (c_id)),
        q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        qa AS (
          SELECT q.query_id, q.qv, c.c_id, c.c_vec,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${cosSql("q.qv", "c.c_vec")} DESC, c.c_id ASC) AS rn
          FROM q CROSS JOIN c3 c),
        qres AS (
          SELECT query_id, c_id, ${residSql("qv", "c_vec")} AS qr
          FROM qa WHERE rn <= 4),
        ${(0 until S).map(subCtes).mkString(",\n")},
        codes AS (
          SELECT r.vec_id, r.c_id, c0, c1, c2, c3
          FROM (SELECT * FROM rcode0 $codesJoin) k
          JOIN res r USING (vec_id)),
        luts AS (SELECT * FROM rlut0 $lutsJoin),
        scored AS (
          SELECT l.query_id, codes.vec_id, $adc AS adc_dist
          FROM codes JOIN luts l ON codes.c_id = l.c_id
          WHERE codes.vec_id <> l.query_id),
        ranked AS (
          SELECT query_id, vec_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, vec_id ASC) AS rank
          FROM scored)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
        FROM ranked WHERE rank <= 5"""
  }

  /** knn_eval_maxsim's truth: brute cosine over MEAN-POOLED doc
    * vectors — per element a vec_id-ascending left-to-right double
    * fold (list_reduce without a seed starts at the first element;
    * 0.0 + x == x, so it matches Spark's aggregate-from-0.0), one
    * double /4.0, one round-to-nearest float (the engine-wide
    * embedding convention [[Similarity.meanPoolDocs]] emits) — then
    * the standard exact-cosine ranking at doc granularity. */
  private lazy val pooledBruteOracle: String =
    s"""WITH ptoks AS (
          SELECT CAST(floor(vec_id / 4) AS BIGINT) AS doc_id,
                 list(embedding ORDER BY vec_id) AS toks
          FROM embeddings GROUP BY 1),
        pooled AS (
          SELECT doc_id AS vec_id,
                 list_transform(range(1, 65),
                   i -> CAST(list_reduce(
                          list_transform(toks, t -> CAST(t[i] AS DOUBLE)),
                          (acc, x) -> acc + x) / 4.0 AS FLOAT)) AS v
          FROM ptoks),
        q AS (SELECT vec_id AS query_id, v AS qv FROM pooled WHERE vec_id < 4),
        scored AS (
          SELECT q.query_id, p.vec_id, ${cosSql("q.qv", "p.v")} AS cos
          FROM pooled p JOIN q ON p.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
        FROM ranked WHERE rank <= 5"""

  /** knn_maxsim oracle: the same nested-HOF MaxSim — token bags
    * vec_id-ordered, dot = left-to-right double fold, inner max
    * order-independent, outer sum left-to-right over query tokens. */
  private lazy val maxSimOracle: String =
    """WITH toks AS (
          SELECT CAST(floor(vec_id / 4) AS BIGINT) AS doc_id,
                 list(embedding ORDER BY vec_id) AS toks
          FROM embeddings GROUP BY 1),
        q AS (SELECT doc_id AS query_id, toks AS qtoks FROM toks WHERE doc_id < 4),
        scored AS (
          SELECT q.query_id, t.doc_id AS vec_id,
                 list_reduce(
                   list_transform(q.qtoks, qt ->
                     list_reduce(
                       list_transform(t.toks, dt ->
                         list_reduce(
                           list_transform(dt,
                             (x, i) -> CAST(x AS DOUBLE) * CAST(qt[i] AS DOUBLE)),
                           (acc, v) -> acc + v)),
                       (m, v) -> CASE WHEN v > m THEN v ELSE m END)),
                   (acc, v) -> acc + v) AS maxsim
          FROM toks t CROSS JOIN q WHERE t.doc_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, maxsim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY maxsim DESC, vec_id ASC) AS rank
          FROM scored)
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank, maxsim
        FROM ranked WHERE rank <= 5"""

  def oracles: Map[String, String] = Map(
    "knn_brute" -> bruteOracle,

    // tier-vs-truth evaluations: wrap the tier's own full ranking
    // oracle and the exact-cosine truth as CTE subqueries and fold to
    // recall@5 / MRR / n_hits — one composition for every
    // deterministic tier (see evalOracle).
    "knn_eval_binary" -> evalOracle(binaryOracle),
    "knn_eval_sq8" -> evalOracle(sq8Oracle),
    "knn_eval_pq" -> evalOracle(pqSeedOracle),
    "knn_eval_ivf" -> evalOracle(ivfSeedOracle),
    // filtered tier vs filtered truth — the selectivity-vs-recall
    // measurement (the truth side is the pre-filter exact form)
    "knn_eval_filtered" -> evalOracleVs(filteredIvfOracle, filteredBruteOracle),
    "knn_filtered_frontier" -> filteredFrontierOracle,
    "knn_filtered" -> filteredBruteOracle,
    "knn_filtered_ivf" -> filteredIvfOracle,
    "knn_mmr" -> mmrOracle,
    "knn_mmr_ivf" -> mmrIvfOracle,
    "knn_mmr_hybrid" -> mmrHybridOracle,

    // both rankings + the RRF fusion recomputed from first
    // principles: window top-20s over one scored relation, full
    // outer fusion, CAST(1 AS DOUBLE) guards against DuckDB's
    // decimal-typed literal division
    "knn_hybrid_rrf" ->
      s"""WITH ${hybridRrfCtes}
          SELECT query_id, doc_id, CAST(dr AS INT) AS dense_rank,
                 CAST(lr AS INT) AS lex_rank, round(rrf, 6) AS rrf,
                 CAST(rank AS INT) AS rank
          FROM rk WHERE rank <= 10""",

    "knn_hybrid_rrf_persisted" ->
      s"""WITH ${hybridRrfPersistedCtes}
          SELECT query_id, doc_id, CAST(dr AS INT) AS dense_rank,
                 CAST(lr AS INT) AS lex_rank, round(rrf, 6) AS rrf,
                 CAST(rank AS INT) AS rank
          FROM rk WHERE rank <= 10""",

    "knn_eval_hybrid_persisted" -> evalOracleVs(
      s"""WITH ${hybridRrfPersistedCtes}
          SELECT query_id, doc_id AS vec_id, CAST(rank AS INT) AS rank
          FROM rk WHERE rank <= 5""",
      s"""WITH ce AS (
            SELECT e.vec_id, e.embedding
            FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
          q AS (SELECT vec_id AS query_id, embedding AS qv
                FROM ce WHERE vec_id < 8),
          scored AS (
            SELECT q.query_id, e.vec_id,
                   ${cosSql("q.qv", "e.embedding")} AS cos
            FROM ce e JOIN q ON e.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
          SELECT query_id, vec_id, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 5"""),

    // fused tier vs exact-cosine truth over the SAME joined corpus —
    // does the lexical signal help or hurt recall of the dense truth?
    "knn_eval_hybrid" -> evalOracleVs(
      s"""WITH ${hybridRrfCtes}
          SELECT query_id, doc_id AS vec_id, CAST(rank AS INT) AS rank
          FROM rk WHERE rank <= 5""",
      s"""WITH ce AS (
            SELECT e.vec_id, e.embedding
            FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
          q AS (SELECT vec_id AS query_id, embedding AS qv
                FROM ce WHERE vec_id < 8),
          scored AS (
            SELECT q.query_id, e.vec_id,
                   ${cosSql("q.qv", "e.embedding")} AS cos
            FROM ce e JOIN q ON e.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored)
          SELECT query_id, vec_id, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 5"""),

    // intra-list similarity of both rankings — pairwise cosines
    // folded with the 2^36 fixed-point recipe (exact integer sums,
    // one double division on each side)
    "knn_eval_mmr" ->
      s"""WITH tk AS ($bruteOracle),
          mm AS ($mmrOracle),
          tkp AS (
            SELECT a.query_id, ${cosSql("ea.embedding", "eb.embedding")} AS cos
            FROM tk a JOIN tk b
              ON a.query_id = b.query_id AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id),
          mmp AS (
            SELECT a.query_id, ${cosSql("ea.embedding", "eb.embedding")} AS cos
            FROM mm a JOIN mm b
              ON a.query_id = b.query_id AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id),
          ti AS (
            SELECT query_id,
                   CAST(sum(CAST(floor(cos * 68719476736 + 0.5) AS BIGINT)) AS DOUBLE)
                     / count(*) / 68719476736 AS ils_topk
            FROM tkp GROUP BY 1),
          mi AS (
            SELECT query_id,
                   CAST(sum(CAST(floor(cos * 68719476736 + 0.5) AS BIGINT)) AS DOUBLE)
                     / count(*) / 68719476736 AS ils_mmr
            FROM mmp GROUP BY 1)
          SELECT ti.query_id, ti.ils_topk, mi.ils_mmr
          FROM ti JOIN mi USING (query_id)""",
    "knn_eval_frontier" -> frontierOracle,
    "knn_eval_frontier_rescore" -> rescoreFrontierOracle,
    "knn_eval_frontier_scalar" -> scalarFrontierOracle,
    "knn_eval_ivfpq" -> evalOracle(ivfPqSeedOracle),
    "knn_eval_lsh" -> evalOracle(lshOracle),
    "knn_eval_lsh_mp" -> evalOracle(lshMultiProbeOracle),
    // doc-level tier, doc-level truth: pooled-cosine ranking as the
    // truth side (see pooledBruteOracle)
    "knn_eval_maxsim" -> evalOracleVs(maxSimOracle, pooledBruteOracle),

    "knn_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
                     FROM embeddings WHERE vec_id < 8),
           scored AS (
             SELECT q.query_id, e.vec_id,
                    ${cosSql("q.qv", "e.embedding")} AS cos
             FROM embeddings e JOIN q ON e.label <> q.ql),
           f AS (SELECT * FROM scored WHERE cos < 0.95),
           ranked AS (
             SELECT query_id, vec_id, cos,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id ASC) AS rank
             FROM f)
          SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
          FROM ranked WHERE rank <= 5""",

    "knn_pq" -> pqSeedOracle,
    "knn_pq_delta" -> pqSeedOracle,
    "knn_ivfpq" -> ivfPqSeedOracle,
    // the persisted tier's full maintenance cycle serves bit-identical
    // to the in-memory trajectory over the union — shared oracle,
    // like every other delta tier
    "knn_ivfpq_delta" -> ivfPqSeedOracle,
    // two-stage: the same chain's rank ≤ 50 shortlist, exactly
    // re-scored (the knn_pq_rescore composition over IVFADC)
    "knn_ivfpq_rescore" -> ivfPqRescoreOracle,
    "knn_eval_ivfpq_rescore" -> evalOracle(ivfPqRescoreOracle),
    "knn_maxsim" -> maxSimOracle,
    // the persisted bag tier serves bit-identically to the in-memory
    // MaxSim over the same union (bagging is a pure per-doc function;
    // float32 token vectors round-trip parquet exactly) — shared oracle
    "knn_maxsim_delta" -> maxSimOracle,

    // two-stage retrieval: the SAME ADC ranking shortlists 50, the
    // exact cosine re-ranks them to the final 5
    "knn_pq_rescore" ->
      s"""WITH $pqAdcCtes,
          sl AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 50),
          resc AS (
            SELECT sl.query_id, sl.vec_id,
                   ${cosSql("q.embedding", "e.embedding")} AS cos
            FROM sl
            JOIN embeddings q ON q.vec_id = sl.query_id
            JOIN embeddings e ON e.vec_id = sl.vec_id),
          rr AS (
            SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS rank
            FROM resc)
          SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
          FROM rr WHERE rank <= 5""",

    "knn_sq8" -> sq8Oracle,
    "knn_sq8_delta" -> sq8Oracle,
    "knn_sq8_compact" -> sq8Oracle,

    "knn_sq8_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
          bscored AS (
            SELECT q.query_id, e.vec_id,
                   ${cosSql("q.qv", "e.embedding")} AS cos
            FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
          btop AS (
            SELECT query_id, vec_id FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM bscored) WHERE rank <= 5),
          cq AS (
            SELECT vec_id,
                   CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS scale,
                   CASE WHEN mx > 0
                        THEN list_transform(embedding,
                               x -> floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5))
                        ELSE list_transform(embedding, x -> 0.0) END AS code
            FROM (SELECT vec_id, embedding,
                    list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS mx
                  FROM embeddings)),
          sscored AS (
            SELECT q.query_id, c.vec_id,
                   c.scale * list_reduce(
                     list_transform(c.code,
                       (x, i) -> CAST(x AS DOUBLE) * CAST((q.qv)[i] AS DOUBLE)),
                     (acc, x) -> acc + x) AS dot_sq8
            FROM cq c JOIN q ON c.vec_id <> q.query_id),
          stop AS (
            SELECT query_id, vec_id FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dot_sq8 DESC, vec_id ASC) AS rank
              FROM sscored) WHERE rank <= 5)
         SELECT s.query_id, count(b.vec_id) / 5.0 AS recall_at_5
         FROM stop s LEFT JOIN btop b
           ON s.query_id = b.query_id AND s.vec_id = b.vec_id
         GROUP BY s.query_id ORDER BY s.query_id""",

    "knn_binary" -> binaryOracle,
    "knn_binary_delta" -> binaryOracle,

    "neardup_cosine" -> neardupOracle,
    "neardup_cosine_exact" -> neardupOracle,
    "dedup_pair_eval" -> pairEvalOracle,
    "knn_lsh" -> lshOracle,
    "knn_lsh_mp" -> lshMultiProbeOracle,
    "knn_ivf_trained" -> ivfTrainedOracle,
    "knn_pq_trained" -> pqTrainedOracle,
    "knn_ivfpq_trained" -> ivfPqTrainedOracle,
    // the persisted trained trajectory serves bit-identically to the
    // in-memory one over the same union (encode is a pure function of
    // the stored trained state) — the shared oracle, like
    // knn_ivfpq_delta shares knn_ivfpq's
    "knn_ivfpq_trained_delta" -> ivfPqTrainedOracle,
    "dedup_semantic" -> semanticDedupOracle,

    // the same trained trajectory (shared lloydCtes), per-cluster
    // hardest-half keep: 2·rank ≤ n+1 over (cos asc, vec_id asc)
    "emb_prune_hard" ->
      s"""WITH $lloydCtes,
          r AS (
            SELECT c_id, vec_id, cos,
                   row_number() OVER (PARTITION BY c_id
                     ORDER BY cos ASC, vec_id ASC) AS rn,
                   count(*) OVER (PARTITION BY c_id) AS n
            FROM af)
          SELECT c_id, vec_id, CAST(rn AS INT) AS hard_rank, cos
          FROM r WHERE rn * 2 <= n + 1""",

    "knn_ivf" -> ivfSeedOracle,

    // the persisted-index path must be indistinguishable from the
    // in-memory one — same oracle by construction (float32 embeddings
    // round-trip parquet bit-exactly)
    "knn_ivf_persisted" -> ivfSeedOracle,

    // ...and so must the base∪delta-segment (LSM ingest) view: the
    // per-vector assignment is segment-independent
    "knn_ivf_delta" -> ivfSeedOracle,
    // the as-of-epoch-0 snapshot indexes exactly base + delta-0 rows
    "knn_ivf_asof" -> ivfSeedOracleOver("vec_id % 3 <> 2 OR vec_id % 2 = 0"),

    // the semantic admission probe replayed from first principles:
    // assign corpus and re-keyed shard against the seed centroids
    // (same argmax + smaller-c_id tie-break), then every same-cluster
    // pair touching the shard at cos ≥ 0.95 — cross pairs oriented
    // least/greatest (shard ids are strictly larger), within-shard
    // pairs a < b, cosine argument order matching the engine's
    "dedup_semantic_probe" ->
      s"""WITH c AS (
            SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 16),
          ia AS (
            SELECT vec_id, embedding, c_id FROM (
              SELECT e.vec_id, e.embedding, c.c_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
              FROM embeddings e CROSS JOIN c) WHERE rn = 1),
          sa AS (
            SELECT vec_id, embedding, c_id FROM (
              SELECT s.vec_id + 10000000000 AS vec_id, s.embedding, c.c_id,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY ${cosSql("s.embedding", "c.c_vec")} DESC, c.c_id ASC) AS rn
              FROM embeddings s CROSS JOIN c WHERE s.vec_id % 5 = 0) WHERE rn = 1),
          crossp AS (
            SELECT least(i.vec_id, s.vec_id) AS a_id,
                   greatest(i.vec_id, s.vec_id) AS b_id,
                   ${cosSql("i.embedding", "s.embedding")} AS cos
            FROM ia i JOIN sa s ON i.c_id = s.c_id),
          withinp AS (
            SELECT s1.vec_id AS a_id, s2.vec_id AS b_id,
                   ${cosSql("s1.embedding", "s2.embedding")} AS cos
            FROM sa s1 JOIN sa s2 ON s1.c_id = s2.c_id AND s1.vec_id < s2.vec_id)
          SELECT a_id, b_id, cos
          FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp)
          WHERE cos >= 0.95""",

    // the compressed (PQ-coded) admission probe: ADC shortlist + exact
    // verify of only the shortlisted pairs, replayed from first
    // principles — see semanticProbePqOracle
    "dedup_semantic_probe_pq" -> semanticProbePqOracle,

    "emb_norms" ->
      s"""SELECT vec_id, ${normSql("embedding")} AS l2_norm FROM embeddings""",

    // the CMS is deterministic end to end (md5 buckets + additive
    // counters), so unlike the HLL/KLL sketches it hash-verifies
    "sketch_cms" ->
      """WITH e AS (SELECT user_id FROM events),
         ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
         buck AS (
           SELECT d, user_id,
                  CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':' ||
                    CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS bucket
           FROM e CROSS JOIN ds),
         counters AS (SELECT d, bucket, count(*) AS c FROM buck GROUP BY 1, 2),
         probes AS (SELECT DISTINCT user_id FROM e WHERE user_id < 20),
         pb AS (
           SELECT p.user_id, ds.d,
                  CAST(('0x' || substring(md5(CAST(ds.d AS VARCHAR) || ':' ||
                    CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS bucket
           FROM probes p CROSS JOIN ds),
         est AS (
           SELECT user_id, CAST(min(c) AS BIGINT) AS cms_est
           FROM pb JOIN counters USING (d, bucket) GROUP BY user_id),
         ex AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
           FROM e WHERE user_id < 20 GROUP BY 1)
         SELECT user_id, cms_est, exact_n FROM est JOIN ex USING (user_id)""",

    "sketch_cms_heavy" ->
      """WITH e AS (SELECT user_id FROM events),
         ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
         buck AS (
           SELECT d, user_id,
                  CAST(('0x' || substring(md5(CAST(d AS VARCHAR) || ':' ||
                    CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS bucket
           FROM e CROSS JOIN ds),
         counters AS (SELECT d, bucket, count(*) AS c FROM buck GROUP BY 1, 2),
         cand AS (SELECT DISTINCT user_id FROM e),
         cb AS (
           SELECT p.user_id, ds.d,
                  CAST(('0x' || substring(md5(CAST(ds.d AS VARCHAR) || ':' ||
                    CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS bucket
           FROM cand p CROSS JOIN ds),
         est AS (
           SELECT user_id, CAST(min(c) AS BIGINT) AS cms_est
           FROM cb JOIN counters USING (d, bucket) GROUP BY user_id)
         SELECT user_id, cms_est FROM est WHERE cms_est >= 75""",

    // same md5 bit-position formula as the engine: pos =
    // int(md5(seed:key)[1..8], 16) % (256*63), word = pos // 63,
    // mask = 1 << (pos % 63); membership = all 3 bits set (63 usable
    // bits per lane — DuckDB's checked shift rejects 1 << 63)
    "sketch_bloom" ->
      """WITH uk AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'),
         seeds AS (SELECT unnest([0, 1, 2]) AS seed),
         bpos AS (
           SELECT CAST(('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
             CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 16128 AS pos
           FROM uk CROSS JOIN seeds),
         bits AS (
           SELECT CAST(pos // 63 AS INT) AS word,
                  bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
           FROM bpos GROUP BY 1),
         ppos AS (
           SELECT c_custkey, seed,
                  CAST(('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
                    CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 16128 AS pos
           FROM customer CROSS JOIN seeds),
         hits AS (
           SELECT c_custkey,
                  (coalesce(bits, 0) &
                   (1::BIGINT << CAST(pos % 63 AS INT))) <> 0 AS hit
           FROM ppos LEFT JOIN bits ON CAST(pos // 63 AS INT) = word),
         maybe AS (
           SELECT c_custkey, bool_and(hit) AS bf_maybe FROM hits GROUP BY 1)
         SELECT c_custkey, bf_maybe,
                (c_custkey IN (SELECT o_custkey FROM uk)) AS exact_in
         FROM maybe""",

    "emb_quantize" ->
      """WITH m AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
           FROM embeddings)
         , u AS (
           SELECT vec_id, mx,
                  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                  CAST(unnest(embedding) AS DOUBLE) AS x
           FROM m)
         SELECT vec_id, dim,
                CASE WHEN mx > 0 THEN CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)
                     ELSE 0 END AS q
         FROM u""",

    // the byte-histogram stub decoder IS expressible in DuckDB: hex()
    // the blob, parse hex pairs back to byte values, histogram mod 16
    // — so the whole mapPartitions plumbing is hash-verified, zero
    // bins included
    "mm_features" ->
      s"""WITH $byteHistCtes
         SELECT ab.asset_id, ab.kind, CAST(ab.n AS BIGINT) AS n_bytes, ab.bin,
                CAST(coalesce(c.c, 0) AS DOUBLE) / greatest(ab.n, 1) AS f
         FROM allbins ab
         LEFT JOIN counts c ON c.asset_id = ab.asset_id AND c.bin = ab.bin""",

    // knn over the stub features: the oracle rebuilds the histograms
    // (rounded through REAL, matching the query's float cast), then
    // brute-forces cosine top-3 for the first 4 assets
    "mm_feature_knn" ->
      s"""WITH $byteHistCtes,
         feat AS (
           SELECT ab.asset_id AS vec_id,
                  list(CAST(CAST(coalesce(c.c, 0) AS DOUBLE) / greatest(ab.n, 1) AS REAL)
                       ORDER BY ab.bin) AS embedding
           FROM allbins ab
           LEFT JOIN counts c ON c.asset_id = ab.asset_id AND c.bin = ab.bin
           GROUP BY ab.asset_id),
         q AS (SELECT vec_id AS query_id, embedding AS qv FROM feat WHERE vec_id < 4),
         scored AS (
           SELECT q.query_id, f.vec_id, ${cosSql("q.qv", "f.embedding")} AS cos
           FROM feat f JOIN q ON f.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored)
         SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos
         FROM ranked WHERE rank <= 3""",

    // the decoded features are recomputed from the closed-form sample
    // formula — the clip IS the formula; a garbled WAV round trip
    // (byte order, container offsets, channel count) hash-mismatches
    "mm_audio_decode" ->
      """WITH a AS (
           SELECT doc_id AS asset_id,
                  CAST(doc_id % 400 + 100 AS INT) AS n FROM documents),
         smp AS (
           SELECT asset_id, n, i,
                  ((asset_id*37 + i*101) % 65536) - 32768 AS s
           FROM a, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i))
         SELECT asset_id,
                CAST(n AS BIGINT) AS n_samples,
                8000 AS sample_rate,
                CAST(CAST(sum(s) AS BIGINT) AS DOUBLE) / n AS mean_amp,
                CAST(sum(s*s) AS BIGINT) AS energy,
                CAST(min(CASE WHEN i = 0 THEN s END) AS INT) AS first_s,
                CAST(min(CASE WHEN i = n - 1 THEN s END) AS INT) AS last_s,
                CAST(max(abs(s)) AS INT) AS peak_abs
         FROM smp GROUP BY asset_id, n""",

    // the decoded features are recomputed from the closed-form pixel
    // formula — no byte access needed: the image IS the formula
    "mm_decode" ->
      """WITH a AS (
           SELECT doc_id AS asset_id,
                  CAST(doc_id % 16 + 8 AS INT) AS width,
                  CAST(doc_id % 12 + 8 AS INT) AS height
           FROM documents),
         px AS (
           SELECT asset_id, width, height, tx.x AS x, ty.y AS y
           FROM a, range(23) tx(x), range(19) ty(y)
           WHERE tx.x < width AND ty.y < height),
         s AS (
           SELECT asset_id, width, height, count(*) AS n_pixels,
                  sum((asset_id*31 + x*7 + y*13) % 256) AS sr,
                  sum((asset_id*17 + x*5 + y*11) % 256) AS sg,
                  sum((asset_id*29 + x*3 + y*19) % 256) AS sb
           FROM px GROUP BY 1, 2, 3)
         SELECT asset_id, width, height, CAST(n_pixels AS BIGINT) AS n_pixels,
                CAST(sr AS DOUBLE) / n_pixels AS mean_r,
                CAST(sg AS DOUBLE) / n_pixels AS mean_g,
                CAST(sb AS DOUBLE) / n_pixels AS mean_b,
                CAST(asset_id*31 % 256 AS INT) AS px00_r,
                CAST((asset_id*29 + (width-1)*3 + (height-1)*19) % 256 AS INT) AS pxlast_b
         FROM s""",

    "mm_frames" ->
      """WITH a AS (
           SELECT doc_id AS asset_id, octet_length(encode(text)) AS n FROM documents),
         idx AS (
           SELECT asset_id, n,
                  unnest(range(0, greatest(n // 64 - 1, 0) + 1)) AS i
           FROM a),
         f AS (
           SELECT asset_id, least(32, greatest(n - i * 64, 0)) AS flen FROM idx)
         SELECT asset_id, count(*) AS n_frames, CAST(sum(flen) AS BIGINT) AS total_bytes
         FROM f WHERE flen > 0 GROUP BY asset_id""",

    // every aHash bit recomputed from the closed-form pixel formula
    // (exact integer luma sums, cross-multiplied cell-vs-image mean
    // threshold), then all-pairs hamming — the Spark side blocks on
    // 16-bit chunks, but hamming <= 3 forces agreement on >= 1 of 4
    // chunks (pigeonhole), so blocking is exhaustive and the pair
    // sets must match exactly (same argument as dedup_simhash).
    "mm_neardup" -> mmNearDupOracle,

    // the capstone composition: pair law from the closed-form pixels,
    // larger-id drop, multiplicative-hash sample, per-source counts
    "pipeline_multimodal" ->
      s"""WITH $mmSigCtes,
          pairs AS (
            SELECT a.asset_id AS a_id, b.asset_id AS b_id
            FROM sigs a JOIN sigs b ON a.asset_id < b.asset_id
            WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
                  bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3),
          dropped AS (SELECT DISTINCT b_id FROM pairs),
          surv AS (
            SELECT s.asset_id FROM sigs s
            WHERE NOT EXISTS (SELECT 1 FROM dropped dr WHERE dr.b_id = s.asset_id)),
          kept AS (
            SELECT d.source FROM documents d
            JOIN surv ON surv.asset_id = d.doc_id
            WHERE ((d.doc_id % 1000003) * 2654435761) % 100 < 50)
          SELECT source, count(*) AS n_docs FROM kept GROUP BY source""",
    // the persisted HammingIndex serve is bit-identical over any
    // base∪delta split — shared oracle
    "mm_neardup_delta" -> mmNearDupOracle,
    "mm_neardup_probe" -> mmProbeOracle,
    "mm_neardup_capped" -> mmCappedOracle,
    "mm_audio_neardup" -> mmAudioOracle,
    "mm_video_neardup" -> mmVideoOracle,
    "mm_video_capped" -> mmVideoCappedOracle,
    "mm_video_clusters" ->
      s"""WITH RECURSIVE pr AS ($mmVideoPairsOracle),
          edges AS (
            SELECT a_id AS src, b_id AS dst FROM pr
            UNION ALL SELECT b_id, a_id FROM pr),
          nodes AS (SELECT DISTINCT src AS aid FROM edges),
          reach AS (
            SELECT aid, aid AS lab FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.aid)
          SELECT aid AS asset_id, CAST(min(lab) AS BIGINT) AS cluster_id
          FROM reach GROUP BY aid""",
    "mm_hot_buckets" ->
      s"""WITH $mmSigCtes
          SELECT chunk, v AS chunk_val, CAST(n AS BIGINT) AS n_members
          FROM (
            SELECT chunk, v, count(*) AS n FROM (
              SELECT 0 AS chunk, c0 AS v FROM sigs
              UNION ALL SELECT 1, c1 FROM sigs
              UNION ALL SELECT 2, c2 FROM sigs
              UNION ALL SELECT 3, c3 FROM sigs) GROUP BY 1, 2)
          WHERE n > 32""",
    "mm_audio_clusters" ->
      s"""WITH RECURSIVE pr AS ($mmAudioPairsOracle),
          edges AS (
            SELECT a_id AS src, b_id AS dst FROM pr
            UNION ALL SELECT b_id, a_id FROM pr),
          nodes AS (SELECT DISTINCT src AS aid FROM edges),
          reach AS (
            SELECT aid, aid AS lab FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.aid)
          SELECT aid AS asset_id, CAST(min(lab) AS BIGINT) AS cluster_id
          FROM reach GROUP BY aid""",

    // pair graph → min-label reachability fixpoint, the image
    // analogue of dedup_clusters' oracle
    "mm_neardup_clusters" ->
      s"""WITH RECURSIVE pr AS ($mmNearDupOracle),
          edges AS (
            SELECT a_id AS src, b_id AS dst FROM pr
            UNION ALL SELECT b_id, a_id FROM pr),
          nodes AS (SELECT DISTINCT src AS aid FROM edges),
          reach AS (
            SELECT aid, aid AS lab FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.aid)
          SELECT aid AS asset_id, CAST(min(lab) AS BIGINT) AS cluster_id
          FROM reach GROUP BY aid""",

    "mm_capped_eval" ->
      s"""SELECT n_pairs_exhaustive, n_pairs_capped, n_saturated_buckets,
                 round(CAST(n_pairs_capped AS DOUBLE) / n_pairs_exhaustive, 6)
                   AS pair_recall
          FROM (SELECT
            (SELECT CAST(count(*) AS BIGINT)
             FROM ($mmNearDupOracle)) AS n_pairs_exhaustive,
            (SELECT CAST(count(*) AS BIGINT)
             FROM ($mmCappedOracle)) AS n_pairs_capped,
            (SELECT CAST(count(*) AS BIGINT) FROM (
              WITH $mmSigCtes
              SELECT chunk, v, count(*) AS n FROM (
                SELECT 0 AS chunk, c0 AS v FROM sigs
                UNION ALL SELECT 1, c1 FROM sigs
                UNION ALL SELECT 2, c2 FROM sigs
                UNION ALL SELECT 3, c3 FROM sigs) GROUP BY 1, 2
              HAVING count(*) > 32) x) AS n_saturated_buckets)""",

    "mm_capped_eval_video" ->
      s"""SELECT n_pairs_exhaustive, n_pairs_capped, n_saturated_buckets,
                 round(CAST(n_pairs_capped AS DOUBLE) / n_pairs_exhaustive, 6)
                   AS pair_recall
          FROM (SELECT
            (SELECT CAST(count(*) AS BIGINT)
             FROM ($mmVideoPairsOracle)) AS n_pairs_exhaustive,
            (SELECT CAST(count(*) AS BIGINT)
             FROM ($mmVideoCappedOracle)) AS n_pairs_capped,
            (SELECT CAST(count(*) AS BIGINT) FROM (
              WITH $videoSigCtes
              SELECT chunk, v, count(*) AS n FROM (
                SELECT 0 AS chunk, c0 AS v FROM vsigs
                UNION ALL SELECT 1, c1 FROM vsigs
                UNION ALL SELECT 2, c2 FROM vsigs
                UNION ALL SELECT 3, c3 FROM vsigs) GROUP BY 1, 2
              HAVING count(*) > 32) x) AS n_saturated_buckets)""",

    "mm_capped_eval_audio" ->
      s"""SELECT n_pairs_exhaustive, n_pairs_capped, n_saturated_buckets,
                 round(CAST(n_pairs_capped AS DOUBLE) / n_pairs_exhaustive, 6)
                   AS pair_recall
          FROM (SELECT
            (SELECT CAST(count(*) AS BIGINT)
             FROM ($mmAudioPairsOracle)) AS n_pairs_exhaustive,
            (SELECT CAST(count(*) AS BIGINT)
             FROM ($mmAudioCappedOracle)) AS n_pairs_capped,
            (SELECT CAST(count(*) AS BIGINT) FROM (
              WITH $audioSigCtes
              SELECT chunk, v, count(*) AS n FROM (
                SELECT 0 AS chunk, c0 AS v FROM asigs
                UNION ALL SELECT 1, c1 FROM asigs
                UNION ALL SELECT 2, c2 FROM asigs
                UNION ALL SELECT 3, c3 FROM asigs) GROUP BY 1, 2
              HAVING count(*) > 32) x) AS n_saturated_buckets)""",

    "mm_neardup_clusters_capped" -> cappedClustersOracle(mmCappedOracle),
    "mm_neardup_clusters_durable" -> cappedClustersOracle(mmCappedOracle),
    "mm_clusters_capped_incremental" -> cappedClustersOracle(mmCappedOracle),
    "mm_video_clusters_capped" -> cappedClustersOracle(mmVideoCappedOracle),
    "mm_audio_clusters_capped" -> cappedClustersOracle(mmAudioCappedOracle),

    "emb_label_centroid_dist" ->
      """WITH dims AS (
           SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
                  unnest(embedding) AS x
           FROM embeddings),
         cent AS (
           SELECT label, dim,
                  CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE)
                    / count(*) AS cx
           FROM dims GROUP BY 1, 2)
         SELECT label, count(*) AS n_dims,
                round(list_reduce(list_transform(list(cx ORDER BY dim), v -> v * v),
                                  (a, b) -> a + b), 6) AS centroid_sq_norm
         FROM cent GROUP BY label""",

    "emb_normalize" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings)
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                 unnest(list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)) AS u
          FROM n""",

    // regenerate the LCG matrix cell-by-cell (pure BIGINT arithmetic,
    // then one exact /1000.0 IEEE division) and reduce each output dim
    // strictly left-to-right from the first product — the engine seeds
    // its fold with 0.0, and 0.0 + x == x in IEEE, so the two
    // accumulation orders are identical
    "emb_random_projection" ->
      """WITH outs AS (SELECT unnest(generate_series(0, 15)) AS out_dim)
         SELECT vec_id, CAST(out_dim AS BIGINT) AS out_dim,
                list_reduce(
                  list_transform(generate_series(0, 63), j ->
                    CAST(embedding[j + 1] AS DOUBLE) *
                    (CAST(((1103515245::BIGINT * (j * 16 + out_dim) + 12345)
                           % 2001) - 1000 AS DOUBLE) / 1000.0)),
                  (a, b) -> a + b) AS v
         FROM embeddings CROSS JOIN outs""")
}
