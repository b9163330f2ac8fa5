package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (vec_id, embedding: array<float>, label).
  *
  * Scale design (100 TB):
  *  - brute-force top-k is TWO-phase: a salted per-partition partial
  *    top-k bounds every sort, then a tiny per-query merge — no single
  *    task ever sees all candidates of one query;
  *  - LSH paths never self-join a relation on its bucket key (that
  *    would recompute the signatures once per plan branch); buckets are
  *    collected once and pairs expand in-row, with a MAX_BUCKET skew
  *    cap so one hot bucket cannot go quadratic;
  *  - near-dup candidate generation is *banded* LSH (many cheap band
  *    signatures per vector) so recall is tunable to ~1 while each
  *    band's buckets stay small; candidates are verified with the
  *    exact cosine, so the output is the brute-force definition
  *    whenever the banding catches every true pair.
  *
  * Cosine arithmetic is strictly sequential double accumulation
  * (VectorFunctions) so the DuckDB oracle can match it exactly.
  */
object Similarity {

  /** Skew cap for single-probe LSH buckets: a degenerate bucket (all
    * near-zero vectors, boilerplate embeddings) is dropped rather than
    * allowed to expand O(|bucket|²) candidate pairs in one task. */
  private val MAX_BUCKET = 64

  /** Σ (aᵢ − bᵢ)² with strict left-to-right double accumulation — the
    * arithmetic DuckDB's `list_reduce` mirrors exactly (0.0 + x == x,
    * so the zero seed equals seeding with the first element). The
    * codegen'd kernel, bit-identical to the HOF form (parity spec). */
  private def squaredL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.SquaredL2(a, b)

  /** Exact top-k cosine neighbors for each query vector (queries =
    * vec_id < nQueries; self-matches excluded). The query side is tiny
    * and broadcast; scoring is a single pass over the base table.
    *
    * Top-k is two-phase: candidates are salted into `salts` groups per
    * query and reduced to k rows per (query, salt) first, so the final
    * per-query sort sees ≤ salts·k rows instead of the whole corpus —
    * the shape that survives a 10⁹-row base table. Both phases share
    * one total order (cos desc, vec_id asc), so the result is
    * bit-identical to the single-window formulation. */
  def bruteForceKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      salts: Int = 32): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val scored = embeddings
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        cosine(col("q"), col("embedding")).as("cos"))
    saltedTopK(scored, score = "cos", ascending = false, k = k, salts = salts)
  }

  /** Hard-negative mining for retrieval/embedding training (the
    * RocketQA / DPR recipe, Qu et al. 2021): for each query, the
    * top-k most-similar vectors that are NOT positives (different
    * `label`), with a denoising ceiling `maxCos` — candidates scoring
    * above it are overwhelmingly mislabeled positives (false
    * negatives) and poison the contrastive loss, so they are excluded
    * rather than served as negatives.
    *
    * 100 TB shape: identical to [[bruteForceKnn]] — the query batch
    * broadcasts (training mines negatives for a batch at a time, not
    * the whole corpus at once), the corpus scan is never shuffled, and
    * the per-query top-k is salted. The label inequality rides IN the
    * broadcast-join condition, so positives are dropped before any
    * scoring output materializes. */
  def hardNegatives(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      maxCos: Double = 0.95, salts: Int = 32): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("label").as("qlabel"))
    val scored = embeddings
      .join(broadcast(queries), col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q"), col("embedding")).as("cos"))
      .where(col("cos") < maxCos)
    saltedTopK(scored, score = "cos", ascending = false, k = k, salts = salts)
  }

  /** FILTERED exact kNN — retrieval under a per-query METADATA
    * predicate (the RAG / vector-store "metadata filter" shape: "top-k
    * most similar documents WHERE category = X"). Each query retrieves
    * only among corpus rows sharing its own `label`; scoring, ties and
    * top-k are [[bruteForceKnn]]'s exactly. This is the PRE-FILTER
    * form — the predicate restricts the candidate set before any
    * scoring, so recall over the qualifying subset is 1 by
    * construction; it is the ground truth the filtered ANN tier
    * ([[filteredIvfKnn]]) is measured against.
    *
    * 100 TB shape: identical to [[bruteForceKnn]] — the query batch
    * broadcasts, the corpus scan is never shuffled, and the label
    * equality rides IN the broadcast-join condition so non-qualifying
    * rows are dropped during the scan, before any scoring output
    * materializes. Per-query top-k is salted. */
  def filteredBruteKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      salts: Int = 32): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("label").as("qlabel"))
    val scored = embeddings
      .join(broadcast(queries),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q"), col("embedding")).as("cos"))
    saltedTopK(scored, score = "cos", ascending = false, k = k, salts = salts)
  }

  /** Scalar-quantization (SQ8) kNN with asymmetric scoring — the
    * simplest production ANN compression tier between full-precision
    * brute force and PQ: the corpus rides as int8 codes plus ONE
    * per-vector scale (the symmetric max-abs representation
    * `emb_quantize` ships — 4× smaller than float32, and the form
    * vector stores serve from RAM), queries stay float32, and ranking
    * maximizes the de-quantized dot product scale·Σ codeᵢ·qᵢ.
    * Asymmetric (query un-quantized) halves the quantization error of
    * symmetric SQ at identical storage. Every step is deterministic
    * IEEE double arithmetic with the dialect-stable floor(x+0.5)
    * rounding, so the full quantize→score→top-k pipeline carries an
    * exact DuckDB oracle.
    *
    * 100 TB shape: identical to [[bruteForceKnn]] — queries broadcast,
    * the corpus scan is never shuffled, per-query top-k is salted —
    * but the scanned payload is the int8 code column, a 4× scan-
    * bandwidth cut, which is the entire point of SQ8 at scale. */
  def sq8Knn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      salts: Int = 32): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    saltedTopK(sq8Score(sq8Quantize(embeddings), queries),
      score = "dot_sq8", ascending = false, k = k, salts = salts)
  }

  /** The SQ8 representation (vec_id, scale, code) — shared by the
    * in-memory [[sq8Knn]] and the persisted [[Sq8Index]] (scale
    * doubles and long codes round-trip parquet bit-exactly, so the
    * two paths are hash-identical). */
  private[graft] def sq8Quantize(vectors: DataFrame): DataFrame =
    vectors
      .withColumn("mx",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .select(col("vec_id"),
        when(col("mx") > 0, col("mx") / 127.0).otherwise(lit(0.0)).as("scale"),
        transform(col("embedding"), x =>
          // zero-vector guard mirrors emb_quantize: ANSI cast(NaN)
          when(col("mx") > 0,
            floor(x.cast("double") * 127.0 / col("mx") + 0.5).cast("long"))
            .otherwise(lit(0L))).as("code"))

  /** Asymmetric de-quantized dot of every (query, non-self vector)
    * pair: queries broadcast, the quantized corpus is never shuffled. */
  private[operators] def sq8Score(quant: DataFrame, queries: DataFrame): DataFrame =
    quant
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("scale") * aggregate(
          zip_with(col("code"), col("qv"),
            (c, q) => c.cast("double") * q.cast("double")),
          lit(0.0), (acc, x) => acc + x)).as("dot_sq8"))

  /** Two-phase salted per-query top-k, shared by the full-scan ranking
    * operators ([[bruteForceKnn]], [[binaryKnn]], [[pqKnn]]):
    * candidates are salted into `salts` groups per query and reduced
    * to k rows per (query, salt) first, so the final per-query sort
    * sees ≤ salts·k rows instead of the whole corpus. BOTH phases use
    * the one total order (score, vec_id asc) — that invariant is what
    * makes the result bit-identical to a single global window (pinned
    * by spec), so any change here must change both windows together. */
  private[operators] def saltedTopK(
      scored: DataFrame, score: String, ascending: Boolean,
      k: Int, salts: Int): DataFrame = {
    val ord =
      if (ascending) Seq(col(score).asc, col("vec_id").asc)
      else Seq(col(score).desc, col("vec_id").asc)
    val wPartial = Window
      .partitionBy(col("query_id"), pmod(xxhash64(col("vec_id")), lit(salts)))
      .orderBy(ord: _*)
    val w = Window.partitionBy("query_id").orderBy(ord: _*)
    scored
      .withColumn("pr", row_number().over(wPartial))
      .where(col("pr") <= k)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", score)
  }

  /** Re-key a codebook (cw_k, cw) dense 0..K−1, order-preserving —
    * identity for an already-dense codebook. ADC serving indexes LUTs
    * POSITIONALLY (element_at over a cw_k-sorted list), which is only
    * correct under dense keys; the persisted tiers ([[PqIndex]],
    * [[IvfPqIndex]]) call this once at write time so a trained
    * codebook with gaps (an emptied cluster) is made safe instead of
    * silently misindexing. K is codebook-sized, so the unpartitioned
    * row_number window is a non-issue. */
  private[graft] def denseCodebook(codebook: DataFrame): DataFrame =
    codebook.select(
      (row_number().over(Window.orderBy(col("cw_k"))) - 1)
        .cast("int").as("cw_k"),
      col("cw"))

  /** [[denseCodebook]] for a PER-SUBSPACE codebook (m, cw_k, cw):
    * re-key dense 0..K_m−1 independently per m, order-preserving —
    * identity for already-dense books ([[trainResidualCodebook]]'s
    * output), safety for any externally-trained book with per-m
    * gaps. The window is partitioned by m, so no codebook-sized
    * single-partition funnel either. */
  private[graft] def denseCodebookPerM(cbPerM: DataFrame): DataFrame =
    cbPerM.select(col("m"),
      (row_number().over(Window.partitionBy("m").orderBy(col("cw_k"))) - 1)
        .cast("int").as("cw_k"),
      col("cw"))

  /** Retrieval-quality evaluation of an ANN tier against exact ground
    * truth — the measurement every index deployment gates on. Both
    * inputs carry `(query_id, vec_id, rank ≤ k)`; per query this
    * reports recall@k (top-k SET overlap / k), MRR (reciprocal rank in
    * `result` of the best-ranked true neighbor found — 0.0 when none
    * is), and the raw hit count. All arithmetic is small-integer
    * division in IEEE double, so any tier-vs-truth pairing whose two
    * sides carry exact oracles composes into an exactly-oracled
    * evaluation.
    *
    * The evaluation is driven from TRUTH's query set: a query the tier
    * returned nothing for still appears, as recall@k = mrr = n_hits =
    * 0 — an empty or partial tier output can never make an aggregate
    * gating metric look vacuously fine. (Tier rows absent from truth —
    * false positives — contribute nothing to any of the three metrics,
    * so dropping them in the truth-driven join changes no value.)
    *
    * Scale shape: both sides are |queries|·k rows — the evaluation is
    * output-sized regardless of corpus size; the tier side broadcasts. */
  def retrievalEval(result: DataFrame, truth: DataFrame, k: Int): DataFrame =
    truth.select(col("query_id"), col("vec_id"))
      .join(broadcast(result.select(col("query_id"), col("vec_id"), col("rank"))),
        Seq("query_id", "vec_id"), "left")
      .withColumn("hit", when(col("rank").isNotNull, lit(1L)).otherwise(lit(0L)))
      .groupBy("query_id")
      .agg(
        (sum("hit").cast("double") / lit(k)).as(s"recall_at_$k"),
        coalesce(max(when(col("hit") === 1L, lit(1.0) / col("rank"))),
          lit(0.0)).as("mrr"),
        sum("hit").cast("long").as("n_hits"))

  /** A frontier's settings as a one-column local relation, broadcast
    * into the sweep's one plan. Each setting is a group key there, so
    * an empty, repeated or non-positive list fails here, naming `arg`. */
  private def sweepSettings(
      embeddings: DataFrame, arg: String, settings: Seq[Int], column: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(settings.nonEmpty, s"$arg: no settings to sweep")
    require(settings.forall(_ > 0),
      s"$arg: every setting must be positive, got ${settings.mkString(", ")}")
    require(settings.distinct.size == settings.size,
      s"$arg: a repeated setting would be counted twice, got ${settings.mkString(", ")}")
    broadcast(settings.toDF(column))
  }

  /** [[retrievalEval]]'s hits for every setting of a sweep as one
    * aggregate grouped by `key`: `ranked` carries (key, query_id,
    * vec_id, rank ≤ k) for all settings at once. Driven from truth ×
    * `settings` as retrievalEval is from truth, so every setting gets
    * a row, even with 0 hits, and `nq` is the truth's query count.
    * Returns (key, recall_at_k, n_hits, nq). */
  private def sweepEval(
      ranked: DataFrame, truth: DataFrame, settings: DataFrame,
      key: String, k: Int): DataFrame =
    truth.select(col("query_id"), col("vec_id"))
      .crossJoin(settings)
      .join(broadcast(ranked.select(col(key), col("query_id"), col("vec_id"), col("rank"))),
        Seq(key, "query_id", "vec_id"), "left")
      .groupBy(key)
      .agg(count(col("rank")).as("n_hits"), countDistinct(col("query_id")).as("nq"))
      .select(col(key),
        (col("n_hits").cast("double") / (col("nq") * k)).as(s"recall_at_$k"),
        col("n_hits"), col("nq"))

  /** Product-quantization (PQ) kNN with ADC scoring — the classic
    * memory-bound ANN path: each vector compresses to `subspaces`
    * small codes (argmin codeword per subspace, 4 bytes/vector here vs
    * 256 for float32), and each query scores the whole corpus through
    * a tiny per-query lookup table (approximate distance = Σ_m
    * lut[m][code_m]) — table lookups and adds, no vector arithmetic
    * per candidate. Codebooks are the subvectors of the first
    * `codebookSize` vectors — the same deterministic seed choice as
    * [[ivfKnn]]'s; [[kmeans]] is the in-engine trainer when refined
    * codebooks are wanted (the assignment/ADC arithmetic the engine
    * and oracle verify is identical either way).
    *
    * Scale shape: the codebook and the per-query LUTs broadcast (K×M
    * doubles per query); encoding is one broadcast-expanded linear
    * pass with a map-side-combinable argmin aggregation; scoring joins
    * nothing bigger than the LUT frame; top-k is the two-phase salted
    * pattern. All distance arithmetic is strict left-to-right double
    * accumulation, so DuckDB reproduces every value bit-for-bit. */
  def pqKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      subspaces: Int = 4, subDim: Int = 16, codebookSize: Int = 16,
      salts: Int = 32): DataFrame = {
    val cb = embeddings.where(col("vec_id") < codebookSize)
      .select(col("vec_id").cast("int").as("cw_k"), col("embedding").as("cw"))
    val codes = pqEncodeCodes(embeddings, cb, subspaces, subDim)
    val luts = pqQueryLuts(
      embeddings.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q")),
      cb, subspaces, subDim)
    saltedTopK(pqAdcScore(codes, luts, subspaces),
      score = "adc_dist", ascending = true, k = k, salts = salts)
  }

  /** Subspace-`m` squared distance between two FULL-dimension vectors
    * (slice offset m·subDim), strict left-to-right double fold — the
    * one piece of arithmetic the whole seed-codebook PQ family (and
    * its DuckDB oracle) agrees on bit-for-bit. */
  private def pqSubD2(subDim: Int)(
      m: Int, a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(
        slice(a, m * subDim + 1, subDim),
        slice(b, m * subDim + 1, subDim),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, t) => acc + t)

  /** PQ-encode `vectors` (vec_id, embedding) against a FIXED codebook
    * `cb` (cw_k int, cw full-dim array<float>) → (vec_id, c0..c_{M−1}).
    * codebookSize broadcast rows per vector, argmin(d2, k) per
    * subspace — struct-min ties break to the smallest codeword. Shared
    * by [[pqKnn]] and the persisted [[PqIndex]] (int codes round-trip
    * parquet exactly, so index serving is hash-identical). */
  private[operators] def pqEncodeCodes(
      vectors: DataFrame, cb: DataFrame,
      subspaces: Int, subDim: Int): DataFrame = {
    val d2 = pqSubD2(subDim) _
    val enc = vectors.crossJoin(broadcast(cb))
      .select(col("vec_id") +: col("cw_k") +:
        (0 until subspaces).map(m =>
          d2(m, col("embedding"), col("cw")).as(s"d2_$m")): _*)
    val codeAggs = (0 until subspaces).map(m =>
      min(struct(col(s"d2_$m"), col("cw_k"))).getField("cw_k").as(s"c$m"))
    enc.groupBy("vec_id").agg(codeAggs.head, codeAggs.tail: _*)
  }

  /** Per-query ADC lookup tables over the same fixed codebook:
    * `queries` = (query_id, q) → (query_id, lut_0..lut_{M−1}),
    * each LUT cw_k-ordered. */
  private[operators] def pqQueryLuts(
      queries: DataFrame, cb: DataFrame,
      subspaces: Int, subDim: Int): DataFrame = {
    val d2 = pqSubD2(subDim) _
    val qd2 = queries
      .crossJoin(broadcast(cb))
      .select(col("query_id") +: col("cw_k") +:
        (0 until subspaces).map(m => d2(m, col("q"), col("cw")).as(s"d2_$m")): _*)
    val lutAggs = (0 until subspaces).map(m =>
      transform(array_sort(collect_list(struct(col("cw_k"), col(s"d2_$m")))),
        e => e.getField(s"d2_$m")).as(s"lut_$m"))
    qd2.groupBy("query_id").agg(lutAggs.head, lutAggs.tail: _*)
  }

  /** ADC distance of every (query, non-self vector) pair: LUTs
    * broadcast, codes never shuffled. */
  private[operators] def pqAdcScore(
      codes: DataFrame, luts: DataFrame, subspaces: Int): DataFrame =
    codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (0 until subspaces).map(m =>
          element_at(col(s"lut_$m"), col(s"c$m") + 1)).reduce(_ + _).as("adc_dist"))

  /** [[pqKnn]] with per-subspace codebooks TRAINED by Lloyd iterations
    * (L2 objective, the textbook PQ training) instead of seed
    * subvectors. All `subspaces` codebooks train in ONE grouped loop:
    * the corpus explodes once into (vector, subspace-slice) rows and
    * every Lloyd step keys by `m` — identical math to running
    * [[kmeans]] per slice, but one stage chain instead of `subspaces`
    * of them, and the corpus is still never shuffled to assign (the
    * per-subspace centroid lists broadcast-join on `m` and an
    * aggregate HOF scans them in-row). Surviving codewords re-key
    * DENSE per subspace (so ADC lookup tables index by position even
    * when a cluster emptied during training); encode/LUT/score/top-k
    * are the standard ADC pipeline. Everything — including every
    * training iteration of every subspace — is deterministic
    * double/decimal arithmetic, so the DuckDB oracle replays the
    * complete trajectory bit-for-bit. */
  def pqKnnTrained(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      subspaces: Int = 4, subDim: Int = 16, codebookSize: Int = 16,
      iters: Int = 2, salts: Int = 32): DataFrame = {
    // fail loudly on a mis-sized subspace grid: slice() past the array
    // end silently yields short subvectors and the kernel would train
    // on garbage (checked in-row — the dimension isn't in the schema)
    val guarded = when(size(col("embedding")) === subspaces * subDim, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"pqKnnTrained: embedding dimension must be $subspaces*$subDim = " +
          s"${subspaces * subDim}, got "), size(col("embedding")).cast("string"))))
    // one row per (vector, subspace): the only wide pass over the
    // data. Materialized ONCE — it is read by every training round,
    // the encode pass, and the query LUT pass, and Spark plan branches
    // share nothing (lazily, each would re-scan + re-explode the
    // corpus; the lazy chain also made Catalyst re-analysis the
    // dominant cost — the kmeans lesson). Released before return.
    val sliced = embeddings.select(col("vec_id"),
      posexplode(array((0 until subspaces).map(m =>
        slice(guarded, m * subDim + 1, subDim)): _*)))
      .toDF("vec_id", "m", "sv")
      .transform(Storage.pin)
    Storage.releasing(sliced) { _ =>
      // round state: one row per subspace holding the cw_k-ascending
      // centroid list — the exact form the broadcast assignment
      // consumes (the kmeans one-row-state protocol, keyed by m)
      val seed = sliced.where(col("vec_id") < codebookSize)
        .select(col("m"), col("vec_id").cast("int").as("cw_k"), col("sv").as("cw"))
        .groupBy("m")
        .agg(array_sort(collect_list(struct(col("cw_k"), col("cw")))).as("cents"))
        .transform(Storage.pin)
      val trained = Storage.rounds(seed, iters) { cents =>
        val assigned = sliced.join(broadcast(cents), "m")
          .select(col("m"), col("sv"),
            aggregate(col("cents"),
              struct(lit(Double.NegativeInfinity).as("key"), lit(-1).as("cw_k")),
              (acc, c) => {
                // argmax of -d2 == argmin d2; strict > keeps the FIRST
                // (lowest cw_k) on ties, matching ORDER BY d2, cw_k
                val key = -squaredL2(col("sv"), c.getField("cw"))
                when(key > acc.getField("key"),
                  struct(key.as("key"), c.getField("cw_k").as("cw_k")))
                  .otherwise(acc)
              }).getField("cw_k").as("cw_k"))
        // recompute in ONE static-width aggregation (subDim is a
        // parameter, so the per-dimension decimal sums are columns — no
        // explode, no second shuffle; identical exact arithmetic), then
        // fold straight back into the per-m broadcast form — one
        // materializing job per round
        val sumCols = (0 until subDim).map(d =>
          fpSum(element_at(col("sv"), d + 1).cast("double")).as(s"s$d"))
        assigned.groupBy("m", "cw_k")
          .agg(sumCols.head, (sumCols.tail :+ count(lit(1)).as("n")): _*)
          .select(col("m"), col("cw_k"),
            array((0 until subDim).map(d =>
              fpMean(col(s"s$d"), col("n"))): _*).as("cw"))
          .groupBy("m")
          .agg(array_sort(collect_list(struct(col("cw_k"), col("cw")))).as("cents"))
      }
      Storage.releasing(trained) { cents =>
        val cb = cents
          .select(col("m"), explode(col("cents")).as("c"))
          .select(col("m"), col("c.cw_k").as("cw_k"), col("c.cw").as("cw"))
        val cbDense = cb.select(col("m"),
          (row_number().over(Window.partitionBy("m").orderBy("cw_k")) - 1).as("cw_k"),
          col("cw"))
        // encode: argmin d2 per (vector, subspace), ties to lowest code —
        // the subspace pivot folds into the SAME aggregation (filtered
        // struct-min per m; min ignores the other subspaces' nulls), so
        // one shuffle produces one code row per vector
        val enc = sliced.join(broadcast(cbDense), "m")
          .select(col("vec_id"), col("m"), col("cw_k"),
            squaredL2(col("sv"), col("cw")).as("d2"))
        val codeCols = (0 until subspaces).map(m =>
          min(when(col("m") === m, struct(col("d2"), col("cw_k"))))
            .getField("cw_k").as(s"c$m"))
        val codes = enc.groupBy("vec_id").agg(codeCols.head, codeCols.tail: _*)
        // per-query ADC lookup tables, code-ordered, same one-shuffle pivot
        val qenc = sliced.where(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("m"), col("sv"))
          .join(broadcast(cbDense), "m")
          .select(col("query_id"), col("m"), col("cw_k"),
            squaredL2(col("sv"), col("cw")).as("d2"))
        val lutCols = (0 until subspaces).map(m =>
          transform(array_sort(collect_list(when(col("m") === m,
            struct(col("cw_k"), col("d2"))))), e => e.getField("d2")).as(s"lut_$m"))
        val luts = qenc.groupBy("query_id").agg(lutCols.head, lutCols.tail: _*)
        val scored = codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            (0 until subspaces).map(m =>
              element_at(col(s"lut_$m"), col(s"c$m") + 1)).reduce(_ + _).as("adc_dist"))
        // materialize the (queries × k)-row answer before both scopes
        // release the sliced corpus and the trained codebooks
        saltedTopK(scored, score = "adc_dist", ascending = true,
          k = k, salts = salts).transform(Storage.pin)
      }
    }
  }

  /** Multi-vector late-interaction retrieval (the ColBERT MaxSim
    * operator, Khattab & Zaharia 2020): documents and queries are
    * BAGS of token vectors, and the relevance of document d to query
    * q is Σ_{qt∈q} max_{dt∈d} dot(qt, dt) — each query token finds
    * its best-matching document token, independently. Token bags are
    * derived from the embeddings table by grouping `tokensPerDoc`
    * consecutive vectors per document (doc_id = vec_id div
    * tokensPerDoc), the stand-in for a per-token encoder output.
    *
    * Exactness: token lists are vec_id-ordered (array_sort over
    * collected structs), the inner max is order-independent IEEE
    * double comparison, the dot and the outer sum are strict
    * left-to-right folds — so the DuckDB oracle replays every score
    * bit-for-bit through the same nested list HOFs.
    *
    * 100 TB shape: the one wide operation is the per-doc collect (one
    * shuffle, map-side-combinable by nothing but bounded at
    * tokensPerDoc rows per key); the query bags broadcast exactly
    * like [[bruteForceKnn]]'s flat queries, the corpus-side bags are
    * scanned once and never shuffled, the whole MaxSim is evaluated
    * in-row by codegen'd HOFs, and the per-query top-k is the shared
    * two-phase salted pattern. Late interaction's corpus cost is
    * |docs|·|q tokens|·|d tokens| multiply-adds — linear in the
    * corpus, embarrassingly parallel, no index needed; the IVF/PQ
    * tiers remain the shortlist path when that constant is too big. */
  def maxSimKnn(
      embeddings: DataFrame, tokensPerDoc: Int = 4, nQueries: Int = 4,
      k: Int = 5, salts: Int = 32): DataFrame = {
    val bags = tokenBags(embeddings, tokensPerDoc)
    val queries = bags.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("toks").as("qtoks"))
    saltedTopK(maxSimScore(bags, queries),
      score = "maxsim", ascending = false, k = k, salts = salts)
  }

  /** The (doc_id, toks: vec_id-ordered array of token vectors) bag
    * layout [[maxSimKnn]] retrieves over — factored out so the
    * persisted [[MaxSimIndex]] tier builds the identical bags at
    * ingest time (one bounded-group shuffle per epoch) and the query
    * side of any MaxSim consumer derives its bags the same way. */
  private[graft] def tokenBags(
      embeddings: DataFrame, tokensPerDoc: Int): DataFrame =
    embeddings
      .select(floor(col("vec_id") / tokensPerDoc).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        e => e.getField("embedding")).as("toks"))

  /** The MaxSim scoring plan over bag relations: query bags broadcast,
    * corpus bags scanned once and never shuffled, the whole
    * Σ_q max_d dot evaluated in-row by codegen'd HOFs. Shared by
    * [[maxSimKnn]] and [[MaxSimIndex.serveAll]] — one definition, so
    * the persisted tier is bit-identical by construction. */
  private[graft] def maxSimScore(
      bags: DataFrame, queries: DataFrame): DataFrame = {
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(
        zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, t) => acc + t)
    bags
      .join(broadcast(queries), col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("vec_id"),
        aggregate(col("qtoks"), lit(0.0), (acc, qt) =>
          acc + aggregate(col("toks"), lit(Double.NegativeInfinity),
            (m, dt) => greatest(m, dot(qt, dt)))).as("maxsim"))
  }

  /** [[pqKnnRescore]]'s IVFADC sibling — THE billion-scale serving
    * shape end-to-end: the doubly-compressed first pass
    * ([[ivfPqKnn]]: partition-pruned lists + table-add scoring)
    * produces a `shortlist` per query, and only those
    * queries × shortlist rows are exactly re-scored with the true
    * cosine and re-ranked to the final top-k. The coarse stage never
    * touches un-probed lists; the exact stage's cost is independent
    * of corpus size (shortlist broadcast back against the corpus to
    * fetch candidate vectors — no corpus shuffle; final window sorts
    * ≤ shortlist rows per query). */
  def ivfPqKnnRescore(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      shortlist: Int = 50, nCentroids: Int = 16, nProbe: Int = 4,
      subspaces: Int = 4, subDim: Int = 16, codebookSize: Int = 16,
      salts: Int = 32): DataFrame = {
    val cand = ivfPqKnn(embeddings, nQueries, shortlist, nCentroids,
      nProbe, subspaces, subDim, codebookSize, salts)
      .select(col("query_id"), col("vec_id"))
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val rescored = embeddings
      .join(broadcast(cand), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("q"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cos")
  }

  /** Mean-pool token embeddings to one vector per document — the
    * single-vector collapse of the same (doc_id = ⌊vec_id/tokensPerDoc⌋,
    * vec_id-ordered token bag) layout [[maxSimKnn]] retrieves over.
    * Returns (vec_id = doc_id, embedding: array<float> — the
    * engine-wide embedding convention) so it feeds [[bruteForceKnn]]
    * or any ANN tier directly — e.g. the exact-cosine pooled truth a
    * late-interaction tier is evaluated against (the recall question
    * a ColBERT-style deployment asks: what does multi-vector scoring
    * buy over pooling?). Deterministic: tokens fold vec_id-ascending,
    * each element accumulated left-to-right in double from 0.0, one
    * double /tokensPerDoc, one round-to-nearest float — so the DuckDB
    * oracle replays it bit-for-bit. Scale shape: one groupBy on
    * doc_id (groups are tokensPerDoc-sized, output is |docs| rows —
    * corpus-sized, one shuffle, no blowup). */
  def meanPoolDocs(embeddings: DataFrame, tokensPerDoc: Int = 4): DataFrame =
    embeddings
      .select(floor(col("vec_id") / tokensPerDoc).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        e => e.getField("embedding")).as("toks"))
      .select(col("doc_id").as("vec_id"),
        transform(
          aggregate(col("toks"),
            transform(element_at(col("toks"), 1), _ => lit(0.0)),
            (acc, t) => zip_with(acc, t, (a, x) => a + x.cast("double"))),
          s => (s / lit(tokensPerDoc.toDouble)).cast("float")).as("embedding"))

  /** Two-stage retrieval — THE production ANN serving shape: a cheap
    * ADC shortlist ([[pqKnn]], `shortlist` candidates per query) is
    * re-scored with the exact cosine and re-ranked to the final top-k.
    * The coarse stage does the corpus-scale work (table lookups per
    * candidate); the exact stage touches only `queries × shortlist`
    * rows, so its cost is independent of corpus size. The shortlist
    * is broadcast back against the corpus to fetch candidate vectors
    * (no corpus shuffle), and the final window sorts ≤ shortlist rows
    * per query — no salting needed at that size. */
  def pqKnnRescore(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      shortlist: Int = 50, subspaces: Int = 4, subDim: Int = 16,
      codebookSize: Int = 16, salts: Int = 32): DataFrame = {
    val cand = pqKnn(embeddings, nQueries, shortlist, subspaces, subDim,
      codebookSize, salts)
      .select(col("query_id"), col("vec_id"))
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val rescored = embeddings
      .join(broadcast(cand), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        cosine(col("q"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cos")
  }

  /** Binary-quantized kNN: every embedding compresses to its sign
    * bits, packed 64-per-long (dimension d → bit (d mod 64) of word
    * (d div 64), set iff vec[d] > 0) — 32× smaller than float32 — and
    * neighbors rank by hamming distance over the packed words, which
    * approximates angular distance. This is the standard cheap
    * first-pass retrieval at 100 TB scale: a hamming scan over packed
    * words costs a couple of XOR+popcount per candidate (vs. D
    * multiply-adds), and survivors can be exactly rescored downstream.
    *
    * Same broadcast-queries + two-phase salted top-k shape as
    * [[bruteForceKnn]]; the total order (hamming asc, vec_id asc) is
    * shared by both phases, so the result equals the single-window
    * formulation. Output carries (query_id, vec_id, rank, hamming) —
    * representation-independent, so the oracle recomputes it as the
    * count of sign-disagreeing dimensions without any bit packing. */
  def binaryKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      salts: Int = 32): DataFrame = {
    val sigs = binarySignatures(embeddings)
    val queries = sigs
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    saltedTopK(binaryScore(sigs, queries),
      score = "hamming", ascending = true, k = k, salts = salts)
  }

  /** The packed sign-bit representation (vec_id, sig: array<long>) —
    * sign-bit packing in HOF form (kept inside the optimizer; a
    * codegen'd kernel is the next rung if packing ever dominates — it
    * is one linear pass either way). Shared by the in-memory
    * [[binaryKnn]] and the persisted [[BinaryIndex]] (longs round-trip
    * parquet exactly). */
  private[graft] def binarySignatures(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), expr(
      """transform(
           sequence(0, cast((size(embedding) + 63) div 64 as int) - 1),
           w -> aggregate(
             sequence(w * 64, cast(least(w * 64 + 63, size(embedding) - 1) as int)),
             0L,
             (acc, d) -> if(element_at(embedding, d + 1) > 0.0F,
                            acc | shiftleft(1L, d % 64), acc)))""").as("sig"))

  /** Word-wise hamming of every (query, non-self vector) pair: query
    * signatures broadcast, the packed corpus is never shuffled. */
  private[operators] def binaryScore(sigs: DataFrame, queries: DataFrame): DataFrame =
    sigs
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("aggregate(zip_with(qsig, sig, (x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)")
          .as("hamming"))

  /** ANN via random-hyperplane LSH: bucket = packed sign bits of
    * `planes` deterministic hyperplane projections; candidates are
    * same-bucket pairs, top-k per query among them.
    *
    * Signatures are computed ONCE (a bucket-join formulation would
    * recompute them per branch): buckets collect their members, pairs
    * expand in-row via a second explode. Buckets above `maxBucket` are
    * dropped — recall there is already degenerate, and the cap keeps
    * any single bucket from emitting O(|bucket|²) candidates. The
    * per-query candidate set is ≤ maxBucket, so the final window sort
    * is bounded by construction. */
  def lshKnn(
      embeddings: DataFrame, planes: Int = 8, k: Int = 5,
      maxBucket: Int = MAX_BUCKET): DataFrame = {
    val sig = embeddings.select(
      col("vec_id"), col("embedding"),
      hyperplaneSignature(col("embedding"), planes).as("bucket"))
    val buckets = sig
      .groupBy("bucket")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    // (ids is a materialized aggregation result — referencing it twice
    // below re-reads a column, it does not recompute the signatures)
    val withQuery = buckets
      .select(col("ids"), explode(col("ids")).as("a"))
    val cand = withQuery.select(
      col("a.vec_id").as("query_id"), col("a.embedding").as("q"),
      explode(filter(col("ids"), b => b("vec_id") =!= col("a.vec_id"))).as("b"))
    val pairs = cand.select(
      col("query_id"), col("b.vec_id").as("vec_id"),
      cosine(col("q"), col("b.embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cos")
  }

  /** Multi-probe variant of [[lshKnn]]: each query additionally probes
    * the `planes` buckets at Hamming distance 1 from its own signature
    * (the classic recall fix for single-probe LSH, where a vector
    * alone in its bucket gets no neighbors at all). Candidate volume
    * is bounded by (planes+1) × maxBucket per query; every base
    * vector lives in exactly one bucket, so probes never produce
    * duplicate candidates and no dedup pass is needed. */
  def lshKnnMultiProbe(
      embeddings: DataFrame, planes: Int = 8, k: Int = 5,
      maxBucket: Int = MAX_BUCKET): DataFrame = {
    val sig = embeddings.select(
      col("vec_id"), col("embedding"),
      hyperplaneSignature(col("embedding"), planes).as("bucket"))
      // signatures are never null; the explicit filter mirrors the
      // constraint the join would otherwise infer into ONE branch
      // only, which would make the two exchange subtrees differ and
      // defeat exchange reuse
      .where(col("bucket").isNotNull)
    val buckets = sig
      .groupBy("bucket")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("ids"))
      .where(size(col("ids")).between(1, maxBucket)) // singletons matter on the base side
    // BOTH the probe side and the base side derive from the same
    // aggregated relation, so the signature pass is shared through one
    // reused exchange (a probes-from-`sig` formulation would be a
    // self-join that recomputes the signatures per plan branch);
    // consequence: members of over-cap buckets neither serve as base
    // nor as queries, the same cap semantics lshKnn has
    val members = buckets.select(col("bucket"), explode(col("ids")).as("m"))
    val probes = members.select(
      col("m.vec_id").as("query_id"), col("m.embedding").as("q"),
      explode(array(
        (col("bucket") +: (0 until planes).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j)))): _*)).as("probe_bucket"))
    val cand = probes
      .join(buckets, probes("probe_bucket") === buckets("bucket"))
      .select(col("query_id"), col("q"),
        explode(filter(col("ids"), b => b("vec_id") =!= col("query_id"))).as("b"))
    val scored = cand.select(
      col("query_id"), col("b.vec_id").as("vec_id"),
      cosine(col("q"), col("b.embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cos")
  }

  /** Embedding-space near-duplicate pairs above a cosine threshold,
    * within `label` blocks, computed scale-safely via banded LSH:
    * each vector gets `bands` short band signatures; candidate pairs
    * are same-(label, band, signature) collisions; candidates are then
    * verified with the exact cosine. With the default banding the
    * probability a true pair above the threshold misses every band is
    * (1 − p⁴)⁶⁴ (p = 1 − θ/π), ≈ 6·10⁻⁵ at cos ≥ 0.35 — at the
    * validated scales the output equals the brute-force definition
    * (deterministically re-checked by spec and oracle); for an
    * exhaustive guarantee use [[cosineNearDupExact]].
    *
    * SIZING RULE: a band partitions each label block into ≤
    * 2^planesPerBand buckets, so planesPerBand must grow with the
    * block: planesPerBand ≳ log₂(blockSize / targetBucketSize). For
    * real near-dup thresholds (≥ 0.8) use 8–12 planes × 10–20 bands —
    * buckets shrink exponentially while recall stays ~1. `maxBucket`
    * is a SKEW GUARD for degenerate buckets (e.g. all-zero vectors),
    * not a sizing mechanism: if ordinary buckets exceed it, the
    * banding is underconfigured and candidates are being dropped —
    * raise planesPerBand, don't raise the cap. */
  def cosineNearDup(
      embeddings: DataFrame, threshold: Double = 0.35,
      planesPerBand: Int = 4, bands: Int = 64,
      maxBucket: Int = 4096): DataFrame = {
    val sig = embeddings
      .select(col("label"), col("vec_id"),
        posexplode(hyperplaneBandSignatures(col("embedding"), planesPerBand, bands)))
      .toDF("label", "vec_id", "band", "band_sig")
    val buckets = sig
      .groupBy("label", "band", "band_sig")
      .agg(collect_list(col("vec_id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
    // pair expansion via two explodes (generators), not a nested
    // transform building an array-of-arrays in-row: candidate volume
    // is the same but per-pair allocation cost is far lower, and ids
    // is a materialized agg column so re-referencing it is free
    val candidates = buckets
      .select(col("ids"), explode(col("ids")).as("a_id"))
      .select(col("a_id"),
        explode(filter(col("ids"), x => x > col("a_id"))).as("b_id"))
      .distinct() // the same pair collides in many bands — verify once
    val e = embeddings.select(col("vec_id"), col("embedding"))
    candidates
      .join(e.withColumnRenamed("vec_id", "a_id").withColumnRenamed("embedding", "a_v"), "a_id")
      .join(e.withColumnRenamed("vec_id", "b_id").withColumnRenamed("embedding", "b_v"), "b_id")
      .select(col("a_id"), col("b_id"), cosine(col("a_v"), col("b_v")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Distributed k-means (Lloyd) trainer for IVF/PQ codebooks: a
    * fixed number of iterations, each = one broadcast-assignment pass
    * + one map-side-combinable mean recompute — nothing is ever
    * collected to the driver and no step shuffles more than n rows,
    * so the trainer scales exactly like one aggregation query per
    * iteration.
    *
    * Deterministic end-to-end (→ fully oracled): seeds are the first
    * `k` vectors; assignment is argmax cosine (`metric="cosine"`, the
    * IVF coarse quantizer) or argmin squared L2 (`metric="l2"`, the
    * textbook Lloyd used for PQ subspace codebooks), ties to the
    * lowest centroid id; per-dimension means sum exact decimals
    * (order-independent across partitions) and divide once in double;
    * each new centroid is cast to float32 — the storage type a real
    * codebook uses — so every iteration's arithmetic is reproducible
    * bit-for-bit in DuckDB (`CAST AS REAL` rounds identically). A
    * centroid whose cluster empties drops out, in both engines.
    *
    * The rounds run in [[Storage.rounds]], each checkpointed: with the
    * static-width per-dimension sums the per-round plan is wide, and
    * chaining rounds lazily made Catalyst re-analysis — not execution
    * — the dominant cost (measured ~2× the run time at iters=3).
    * The round state is the ONE-row sorted centroid array (the form
    * the next round's broadcast assignment consumes anyway), so the
    * recompute-and-collect is a single job per round — keeping the
    * state k-row and re-aggregating it into the broadcast row cost an
    * extra 2-stage job per round, pure scheduling latency at any SF.
    * Checkpoint blocks are one row each, so the storage cost is nil;
    * the returned centroid table is a projection of the last round's
    * checkpoint, which the caller owns (release it with
    * [[Storage.releasing]] once consumed).
    *
    * Returns (c_id, c_vec: array<float>). */
  /** Exact, engine-unambiguous fixed-point mean pieces shared by
    * every Lloyd trainer ([[kmeans]], [[pqKnnTrained]], the IVFADC
    * residual trainer): the input quantizes to an exact 2^36
    * fixed-point integer (x·2^36 is an exact double product, floor
    * exact), sums accumulate in DECIMAL(38,0) — exact, associative
    * (map-side-combinable in any order), unbounded at any realistic
    * cluster size — and the mean divides back in double (one IEEE
    * rounding, one exact power-of-two division) before the float32
    * trained-state cast. The earlier DECIMAL(25,15) recipe's
    * double→decimal cast is engine-AMBIGUOUS at the 15th decimal
    * digit (binary↔decimal boundary cases round differently per
    * engine), which was invisible while trained state only drove
    * rankings but surfaced as 1-float-ulp centroid divergence once a
    * consumer (IVFADC residuals) used the state numerically. The
    * 2^-36 input quantization is deterministic, identical on both
    * engines, and far below float32 state precision at any input
    * magnitude the quantization itself doesn't dominate. */
  private val FP_SCALE = math.pow(2, 36)
  private def fpSum(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(floor(x * FP_SCALE + 0.5)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
  private def fpMean(
      sumCol: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (sumCol.cast("double") / n / FP_SCALE).cast("float")

  def kmeans(
      embeddings: DataFrame, k: Int = 16, iters: Int = 3,
      metric: String = "cosine", dims: Int = 64): DataFrame = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    // fail loudly on a mis-sized vector: element_at past the array end
    // yields NULL and the decimal sums would silently skip it (same
    // guard discipline as pqKnnTrained)
    // The guarded projection is materialized ONCE and every round
    // reads the in-memory blocks — without this, each iteration
    // re-runs the upstream scan (+ any exchange feeding it). Caching
    // the training input is the standard iterative-trainer trade
    // (Spark MLlib's KMeans does the same); released before return.
    val emb = embeddings.select(col("vec_id"),
      when(size(col("embedding")) === dims, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"kmeans: embedding dimension must be $dims, got "),
          size(col("embedding")).cast("string")))).as("embedding"))
      .transform(Storage.pin)
    val trained = Storage.releasing(emb) { _ =>
      val seed = emb
        .where(col("vec_id") < k)
        .agg(array_sort(collect_list(
          struct(col("vec_id").as("c_id"), col("embedding").as("c_vec")))).as("cents"))
        .transform(Storage.pin)
      Storage.rounds(seed, iters) { centsRow =>
        // assignment is IN-ROW: the (tiny) centroid table folds into ONE
        // broadcast row sorted by c_id, and each vector scans it with an
        // aggregate HOF — the corpus is never shuffled to pick a
        // centroid (vs. a join + groupBy(vec_id), which re-shuffles all
        // n embeddings every iteration). Strict `>` over the ascending
        // c_id scan keeps the FIRST best — the same tie-break as the
        // oracle's (cos DESC, c_id ASC). A NaN cosine (zero-norm input)
        // maps to -inf, mirroring DuckDB where 0.0/0.0 is NULL and NULL
        // sorts LAST under ORDER BY DESC; the `acc.c_id == -1` clause
        // still adopts the first centroid when EVERY key is -inf, which
        // is the all-NULL tie both engines break to the lowest c_id.
        val assigned = emb.crossJoin(broadcast(centsRow))
          .select(col("vec_id"), col("embedding"),
            aggregate(col("cents"),
              struct(lit(Double.NegativeInfinity).as("key"), lit(-1L).as("c_id")),
              (acc, c) => {
                // argmax key: cosine directly, or -d2 so argmax = argmin L2
                val cs = metric match {
                  case "cosine" => cosine(col("embedding"), c.getField("c_vec"))
                  case "l2" => -squaredL2(col("embedding"), c.getField("c_vec"))
                }
                val key = when(isnan(cs), lit(Double.NegativeInfinity)).otherwise(cs)
                when(key > acc.getField("key") || acc.getField("c_id") === -1L,
                  struct(key.as("key"), c.getField("c_id").as("c_id")))
                  .otherwise(acc)
              }).getField("c_id").as("c_id"))
        // recompute in ONE static-width aggregation (same shape as
        // pqKnnTrained): per-dimension FIXED-POINT sums as columns — no
        // explode of n×dims rows, no second shuffle; the 2^36 integer
        // sums are exact and order-independent so the result is
        // bit-identical to the explode+groupBy form the oracle unrolls,
        // on BOTH engines (see fpSum — the old decimal recipe was
        // engine-ambiguous at the 15th digit)
        val sumCols = (0 until dims).map(d =>
          fpSum(element_at(col("embedding"), d + 1).cast("double")).as(s"s$d"))
        assigned
          .groupBy("c_id")
          .agg(sumCols.head, (sumCols.tail :+ count(lit(1)).as("n")): _*)
          .select(col("c_id"),
            array((0 until dims).map(d =>
              fpMean(col(s"s$d"), col("n"))): _*).as("c_vec"))
          // fold straight into next round's broadcast form — one job
          .agg(array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cents"))
      }
    }
    trained
      .select(explode(col("cents")).as("c"))
      .select(col("c.c_id").as("c_id"), col("c.c_vec").as("c_vec"))
  }


  /** IVF (inverted-file) ANN: coarse-quantize every vector to its
    * nearest of `nCentroids` centroids, then answer each query by
    * scanning only the `nProbe` closest centroid lists — the classic
    * scale path when LSH recall tuning is awkward: list sizes are
    * ~n/nCentroids, so probed work is a (nProbe/nCentroids) fraction
    * of the corpus regardless of score distribution.
    *
    * Centroids here are the first `nCentroids` vectors by vec_id — a
    * deterministic seed choice; [[ivfKnnWith]] + [[kmeans]] is the
    * trained-codebook form (`knn_ivf_trained`), same machinery.
    *
    * Shapes: assignment is a broadcast join + map-side-partial
    * `max_by` aggregation (shuffle ≈ n rows, not n×K); the probe side
    * is tiny (queries × centroids) and broadcast into the candidate
    * join. */
  def ivfKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    ivfKnnWith(embeddings,
      embeddings.where(col("vec_id") < nCentroids)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      nQueries, k, nProbe)

  /** [[ivfKnn]] against an explicit centroid table (c_id, c_vec) —
    * e.g. one trained by [[kmeans]]. */
  def ivfKnnWith(
      embeddings: DataFrame, centroids: DataFrame,
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    ivfServe(ivfAssign(embeddings, centroids), centroids, queries, k, nProbe)
  }

  /** FILTERED IVF kNN — the ANN tier under the same per-query label
    * predicate as [[filteredBruteKnn]]: probe-list selection is
    * unchanged (centroids carry no metadata), but the inverted-list
    * rows carry the `label` column ALONGSIDE the vector, so the
    * predicate applies DURING the probed-list scan — in-scan
    * filtering, the layout production filtered-ANN engines use
    * (metadata lives in the list entry; no side join against a
    * metadata table, no post-hoc filtering of an already-truncated
    * top-k). Scoring among qualifying candidates is exact cosine with
    * the family's deterministic tie-break, so the whole
    * assign→probe→filter→rank trajectory carries a full DuckDB oracle.
    *
    * The recall trade-off this tier makes is the REAL one a filtered
    * deployment tunes: a probed list may hold few (or zero) rows of
    * the query's label, so filtered recall decays faster with
    * selectivity than unfiltered recall decays with nProbe —
    * `knn_eval_filtered` measures exactly that against
    * [[filteredBruteKnn]] truth. At `nProbe = nCentroids` every list
    * is scanned and the tier degenerates to the exact pre-filter form
    * (a law SimilaritySpec pins).
    *
    * 100 TB shape: [[ivfServe]]'s exactly — probes broadcast, only
    * probed lists are read (partition-pruned when the assignment is
    * the persisted c_id-partitioned layout), the corpus is never
    * shuffled, and the label filter is a scan-level predicate on
    * columns already in hand. */
  def filteredIvfKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = embeddings.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("label").as("qlabel"))
    ivfServe(filteredIvfAssign(embeddings, centroids), centroids, queries, k, nProbe,
      filtered = true)
  }

  /** [[ivfAssign]] with the metadata column riding IN the list entry
    * — the layout that makes the predicate an in-scan filter. */
  private[graft] def filteredIvfAssign(
      embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings
      .join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("label"), col("c_id"),
        cosine(col("embedding"), col("c_vec")).as("c_cos"))
      .groupBy("vec_id")
      .agg(
        first(col("embedding")).as("embedding"),
        first(col("label")).as("label"),
        max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).cast("double"))).as("c_id"))

  /** The FILTERED recall–cost frontier — [[ivfFrontier]] under the
    * per-query label predicate, the table a deployment running
    * metadata-filtered retrieval actually tunes from. Filtered recall
    * decays faster with nProbe than unfiltered recall (a probed list
    * may hold few — or zero — rows of the query's label), so the
    * sweep carries BOTH cost axes per config: `scanned_rows` (every
    * member of every probed list — what the scan READS, predicate
    * evaluated per row) and `qualifying_rows` (the same-label members
    * — what the scorer actually scores). Their gap IS the price of
    * post-scan filtering at that selectivity; recall vs
    * `qualifying_rows` is the curve that says whether to raise nProbe
    * or move to label-partitioned indexes. All numbers exact (integer
    * sums + single divisions) → full DuckDB replay.
    *
    * Scale shape: [[ivfFrontier]]'s one plan, the label predicate in
    * its candidate scan and both cost columns in its cost aggregate. */
  def filteredIvfFrontier(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nCentroids: Int = 16, probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame =
    ivfSweep(embeddings, nQueries, k, nCentroids, probes, filtered = true)

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking — the standard redundancy-control stage a
    * retrieval deployment runs AFTER its ANN shortlist: greedily pick
    * k results maximizing `lam·rel(q,d) − mu·max_{s∈picked} sim(d,s)`,
    * so near-duplicate hits don't crowd the result page (or the RAG
    * context window). The first pick scores `lam·rel` (max over the
    * empty picked set = 0); ties break (score desc, vec_id asc)
    * everywhere.
    *
    * `lam` and `mu` are BOTH caller-supplied — neither side of the
    * correctness gate computes `1 − λ` in floating point, so the
    * engine's `0.7/0.3` and the oracle's parse to identical doubles
    * and the whole greedy trajectory replays bit-for-bit in DuckDB
    * (unrolled, the lloyd-CTE pattern).
    *
    * 100 TB shape: the corpus is touched ONCE, by the shortlist stage
    * ([[bruteForceKnn]] here; any ANN tier composes the same way —
    * the greedy only reads shortlist rows). Everything after is
    * output-sized: |queries| × `shortlist` rows, each greedy round a
    * broadcast join + map-side-combinable max + one window over ≤
    * `shortlist` rows per query. Rounds are checkpointed like the
    * graph loops, so the plan stays shallow at any k. */
  def mmrRerank(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      shortlist: Int = 20, lam: Double = 0.7, mu: Double = 0.3): DataFrame =
    mmrRerankWith(
      bruteForceKnn(embeddings, nQueries, shortlist)
        .select(col("query_id"), col("vec_id"), col("cos").as("rel")),
      embeddings, k, lam, mu)

  /** [[mmrRerank]] over an EXPLICIT shortlist (query_id, vec_id, rel)
    * — the composition seam: any tier's top-M ranking (IVF, IVFADC,
    * SQ8, a persisted serve) feeds the same greedy, which is how a
    * production retrieval stack actually runs MMR (ANN shortlist
    * first, diversity second — the corpus is touched only by the
    * tier). `rel` is the tier's own relevance score. */
  def mmrRerankWith(
      shortlist: DataFrame, embeddings: DataFrame, k: Int = 5,
      lam: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val cand = shortlist
      .join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("rel"), col("embedding"))
      .transform(Storage.pin)
    Storage.releasing(cand) { _ =>
      val w1 = Window.partitionBy("query_id")
        .orderBy(col("mmr_score").desc, col("vec_id").asc)
      val top1 = cand
        .select(col("query_id"), col("vec_id"),
          (lit(lam) * col("rel")).as("mmr_score"))
        .withColumn("rn", row_number().over(w1))
        .where(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), lit(1).as("mmr_rank"),
          col("mmr_score"))
        .transform(Storage.pin)
      // round i picks the i-th item; the caller owns the last round
      var i = 1
      Storage.rounds(top1, k - 1) { selected =>
        i += 1
        // at most k rows per query: broadcast, so no join's build side
        // is left to a runtime re-plan
        val picked = broadcast(selected.select("query_id", "vec_id"))
        val selEmb = cand.join(picked, Seq("query_id", "vec_id"))
          .select(col("query_id"), col("embedding").as("s_emb"))
        val remaining = cand.join(picked, Seq("query_id", "vec_id"), "left_anti")
        val pick = remaining
          .join(broadcast(selEmb), "query_id")
          .select(col("query_id"), col("vec_id"), col("rel"),
            cosine(col("embedding"), col("s_emb")).as("sim"))
          .groupBy("query_id", "vec_id")
          .agg(first(col("rel")).as("rel"), max(col("sim")).as("max_sim"))
          .select(col("query_id"), col("vec_id"),
            (lit(lam) * col("rel") - lit(mu) * col("max_sim")).as("mmr_score"))
          .withColumn("rn", row_number().over(w1))
          .where(col("rn") === 1)
          .select(col("query_id"), col("vec_id"), lit(i).as("mmr_rank"),
            col("mmr_score"))
        selected.unionByName(pick)
      }
    }
  }

  /** The index-BUILD half of IVF: nearest centroid per vector (ties
    * break to the lowest c_id). Returns (vec_id, embedding, c_id) —
    * the inverted-list assignment, persistable as a durable index
    * ([[IvfIndex]]). */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings
      .join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        cosine(col("embedding"), col("c_vec")).as("c_cos"))
      .groupBy("vec_id")
      .agg(
        first(col("embedding")).as("embedding"),
        max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).cast("double"))).as("c_id"))

  /** The SERVE half of IVF: probe-list selection + exact-cosine
    * ranking over an existing assignment table — no retraining, no
    * reassignment, which is how a production pipeline queries an index
    * it built earlier ([[IvfIndex.serveAll]] binds this to one persisted
    * on disk; when `assigned` is a partitioned parquet scan, the
    * broadcast probe join prunes to only the probed lists). `filtered`
    * serves under the per-query label predicate ([[filteredIvfKnn]]). */
  private[graft] def ivfServe(
      assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, filtered: Boolean = false): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    ivfScored(assigned, ivfProbes(queries, centroids, nProbe, filtered), filtered)
      .drop("pr")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cos")
  }

  /** Each query's `nProbe` nearest lists by centroid cosine, ties to
    * the lower c_id, with the list rank `pr`: (query_id, q, [qlabel,]
    * c_id, pr). `filtered` carries the query's `qlabel`. */
  private def ivfProbes(
      queries: DataFrame, centroids: DataFrame, nProbe: Int, filtered: Boolean): DataFrame = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("p_cos").desc, col("c_id").asc)
    val carried = Seq(col("query_id"), col("q")) ++
      (if (filtered) Seq(col("qlabel")) else Nil) :+ col("c_id")
    queries
      .join(broadcast(centroids))
      .select(carried :+ cosine(col("q"), col("c_vec")).as("p_cos"): _*)
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(carried :+ col("pr"): _*)
  }

  /** Every member of the probed lists but the query itself, scored by
    * exact cosine: (query_id, vec_id, pr, cos). `filtered` scores only
    * the list entries whose `label` is the query's `qlabel` — the
    * predicate applies to the probed-list scan, before scoring. */
  private def ivfScored(assigned: DataFrame, probes: DataFrame, filtered: Boolean): DataFrame =
    assigned
      .join(broadcast(probes), "c_id")
      .where(col("vec_id") =!= col("query_id") &&
        (if (filtered) col("label") === col("qlabel") else lit(true)))
      .select(col("query_id"), col("vec_id"), col("pr"),
        cosine(col("q"), col("embedding")).as("cos"))

  /** The recall–cost FRONTIER a deployment actually tunes from: one
    * row per candidate `nProbe` of the seed-IVF tier — (n_probe,
    * recall@k vs brute truth, raw hit count, scanned candidate rows,
    * scan fraction of the corpus). Recall rises with nProbe while
    * scan fraction rises linearly; the elbow of this table IS the
    * production configuration decision, produced here in ONE query.
    *
    * Every number is exact: hits and scanned rows are integer sums,
    * the two fractions are single integer→double divisions — so the
    * DuckDB oracle composes the existing seed-IVF and brute CTEs and
    * replays the whole frontier bit-for-bit (scanned rows count every
    * member of every probed list, self included — the rows a serving
    * scan READS).
    *
    * Scale shape: the assignment and the truth are computed ONCE
    * (materialized). The sweep is one plan over the largest setting,
    * with the setting as a column: each candidate of the largest
    * setting's lists is scanned and scored once, the settings join as
    * a broadcast local relation on list rank `pr ≤ n_probe`, and the
    * ranking, the hits ([[sweepEval]]) and the cost are each grouped
    * by `n_probe`. */
  def ivfFrontier(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nCentroids: Int = 16, probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame =
    ivfSweep(embeddings, nQueries, k, nCentroids, probes, filtered = false)

  /** The one plan behind [[ivfFrontier]] and [[filteredIvfFrontier]].
    * `filtered` carries the label in the list entry and the query,
    * scores only same-label candidates against the filtered truth, and
    * adds the `qualifying_rows` column. */
  private def ivfSweep(
      embeddings: DataFrame, nQueries: Int, k: Int, nCentroids: Int,
      probes: Seq[Int], filtered: Boolean): DataFrame = {
    val settings = sweepSettings(embeddings, "probes", probes, "n_probe")
    val label = if (filtered) Seq(col("label")) else Nil
    val e = embeddings.select(Seq(col("vec_id"), col("embedding")) ++ label: _*)
    val centroids = e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val (assign, exact) =
      if (filtered) (filteredIvfAssign(e, centroids), filteredBruteKnn(e, nQueries, k))
      else (ivfAssign(e, centroids), bruteForceKnn(e, nQueries, k))
    Storage.pinning(assign) { assigned =>
      Storage.pinning(exact) { truth =>
        val queries = e.where(col("vec_id") < nQueries)
          .select(Seq(col("vec_id").as("query_id"), col("embedding").as("q")) ++
            label.map(_.as("qlabel")): _*)
        val probed = ivfProbes(queries, centroids, probes.max, filtered)
        val wRank = Window.partitionBy("n_probe", "query_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val ranked = ivfScored(assigned, probed, filtered)
          .join(settings, col("pr") <= col("n_probe"))
          .withColumn("rank", row_number().over(wRank))
          .where(col("rank") <= k)
        // a probed list is scanned whole; its members of the query's
        // label are the ones the filtered scorer scores
        val lists = assigned.groupBy(col("c_id") +: label: _*)
          .agg(count(lit(1)).as("cnt"))
        val cost = probed
          .join(settings, col("pr") <= col("n_probe"))
          .join(broadcast(lists), "c_id")
          .groupBy("n_probe")
          .agg(sum(col("cnt")).as("scanned_rows"), label.map(l =>
            coalesce(sum(when(l === col("qlabel"), col("cnt"))), lit(0L))
              .as("qualifying_rows")): _*)
        val total = e.agg(count(lit(1)).as("n_total"))
        sweepEval(ranked, truth, settings, "n_probe", k)
          .join(cost, Seq("n_probe"), "left")
          .crossJoin(broadcast(total))
          .select(Seq(col("n_probe"), col(s"recall_at_$k"), col("n_hits"),
            col("scanned_rows")) ++
            (if (filtered) Seq(col("qualifying_rows")) else Nil) :+
            (col("scanned_rows").cast("double") /
              (col("nq") * col("n_total"))).as("scan_frac"): _*)
          .transform(Storage.pin)
      }
    }
  }

  /** The SCALAR-TIER frontier — recall@k vs bytes actually scanned
    * per query for the full-scan compressed representations, the
    * table that justifies each quantized tier's existence: float32
    * brute (dims·4 B/vec — the exactness ceiling and the cost
    * ceiling), SQ8 (dims·1 B codes + one 8 B scale), binary sign bits
    * (8 B per 64 dims), and seed-codebook PQ (`subspaces`·1 B codes).
    * Unlike [[ivfFrontier]] (which tunes HOW MUCH of one index is
    * scanned), every tier here scans the whole corpus minus self —
    * the axis is bytes per candidate, so
    * `scanned_bytes = (n_total − 1) · bytes_per_vec` is exact
    * accounting, not an estimate. One row per tier; truth is computed
    * once and every tier evaluates against it through
    * [[retrievalEval]] (all integer sums + single divisions, so the
    * composed oracle replays the whole table bit-for-bit).
    *
    * Scale shape: each tier is the already-bounded full-scan ranker
    * (queries broadcast, corpus never shuffled, salted top-k). The
    * four rankers stay four plans; their tier-tagged union is
    * evaluated as one aggregate grouped by tier ([[sweepEval]]), and
    * the corpus size and width are read once, on the driver, to write
    * each tier's byte accounting into the local tier relation. */
  def scalarFrontier(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      salts: Int = 32): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val stats = e.agg(count(lit(1)), max(size(col("embedding"))).cast("long")).head()
    val (nTotal, dims) = (stats.getLong(0), stats.getLong(1))
    val tiers = Seq("float32_brute" -> dims * 4, "sq8" -> (dims + 8),
      "binary" -> (dims + 63) / 64 * 8, "pq" -> 4L)
      .map { case (tier, bytes) => (tier, bytes, (nTotal - 1) * bytes) }
      .toDF("tier", "bytes_per_vec", "scanned_bytes")
    Storage.pinning(bruteForceKnn(e, nQueries, k, salts)) { truth =>
      def tagged(tier: String, ranked: DataFrame): DataFrame =
        ranked.select(lit(tier).as("tier"), col("query_id"), col("vec_id"), col("rank"))
      val ranked = tagged("float32_brute", truth)
        .unionByName(tagged("sq8", sq8Knn(e, nQueries, k, salts)))
        .unionByName(tagged("binary", binaryKnn(e, nQueries, k, salts)))
        .unionByName(tagged("pq", pqKnn(e, nQueries, k, salts = salts)))
      sweepEval(ranked, truth, broadcast(tiers.select("tier")), "tier", k)
        .join(broadcast(tiers), "tier")
        .select("tier", s"recall_at_$k", "n_hits", "bytes_per_vec", "scanned_bytes")
        .transform(Storage.pin)
    }
  }

  /** [[ivfFrontier]]'s two-stage sibling — the OTHER knob a
    * production deployment tunes: at fixed coarse cost (nProbe), how
    * wide must the IVFADC shortlist be before exact rescoring stops
    * buying recall? One row per candidate `shortlist` — (shortlist,
    * recall@k of the rescored top-k vs brute truth, raw hits,
    * rescored candidate rows = the exact stage's actual work). The
    * ADC ranking and the truth are computed ONCE (materialized). All
    * numbers exact (integer sums + single divisions), so the oracle
    * composes the IVFADC chain, the per-shortlist rescore, and the
    * brute truth bit-for-bit.
    *
    * Scale shape: one plan over the largest shortlist, with the
    * shortlist as a column: its candidates are rescored exactly once,
    * the settings join as a broadcast local relation on
    * `adc_rank ≤ shortlist`, and the re-rank, the hits ([[sweepEval]])
    * and the rescored rows are each grouped by `shortlist`. */
  def ivfPqRescoreFrontier(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      shortlists: Seq[Int] = Seq(10, 25, 50), nCentroids: Int = 16,
      nProbe: Int = 4, subspaces: Int = 4, subDim: Int = 16,
      codebookSize: Int = 16, salts: Int = 32): DataFrame = {
    val settings = sweepSettings(embeddings, "shortlists", shortlists, "shortlist")
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val cand = ivfPqKnn(e, nQueries, shortlists.max, nCentroids,
      nProbe, subspaces, subDim, codebookSize, salts)
      .select(col("query_id"), col("vec_id"), col("rank").as("adc_rank"))
      .transform(Storage.pin)
    Storage.releasing(cand) { _ =>
      Storage.pinning(bruteForceKnn(e, nQueries, k)) { truth =>
        val queries = e.where(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("q"))
        val wRank = Window.partitionBy("shortlist", "query_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val ranked = e
          .join(broadcast(cand), "vec_id")
          .join(broadcast(queries), "query_id")
          .select(col("query_id"), col("vec_id"), col("adc_rank"),
            cosine(col("q"), col("embedding")).as("cos"))
          .join(settings, col("adc_rank") <= col("shortlist"))
          .withColumn("rank", row_number().over(wRank))
          .where(col("rank") <= k)
        val cost = cand.join(settings, col("adc_rank") <= col("shortlist"))
          .groupBy("shortlist")
          .agg(count(lit(1)).as("rescored_rows"))
        sweepEval(ranked, truth, settings, "shortlist", k)
          .join(cost, Seq("shortlist"), "left")
          .select(col("shortlist"), col(s"recall_at_$k"), col("n_hits"),
            coalesce(col("rescored_rows"), lit(0L)).as("rescored_rows"))
          .transform(Storage.pin)
      }
    }
  }

  /** IVF-PQ with residual encoding — the composed billion-scale ANN
    * layout (IVFADC, Jégou et al. 2011, the default FAISS shape): the
    * coarse quantizer assigns each vector to its nearest centroid
    * ([[ivfAssign]], same argmax-cosine as the IVF tier), the RESIDUAL
    * v − c(v) is PQ-encoded against a shared residual codebook, and a
    * query is answered by probing its `nProbe` nearest inverted lists
    * with one ADC lookup table PER (query, probed centroid) — built
    * from the query's residual against THAT centroid, so the table
    * encodes the list-local geometry the plain PQ tier loses. Both
    * prunings compose: a vector is scored only by queries probing its
    * list (the IVF term), and scoring is `subspaces` table adds per
    * candidate (the PQ term).
    *
    * Deterministic seeds throughout (coarse centroids = first
    * `nCentroids` vectors, residual codewords = residuals of the first
    * `codebookSize` vectors), strict left-to-right double folds — the
    * full trajectory replays in the DuckDB oracle bit-for-bit;
    * [[kmeans]] is the in-engine trainer when refined codebooks are
    * wanted.
    *
    * Scale shape: centroids, the residual codebook, the probe table,
    * and the per-(query, centroid) LUTs all broadcast (|Q|·nProbe·K·M
    * doubles); the corpus is scanned once to assign+encode and never
    * shuffled to score — the candidate join is LUTs-into-codes on
    * c_id, exactly the partition-pruned probe shape the persisted
    * [[IvfPqIndex]] tier serves with; top-k is the two-phase salted
    * pattern. */
  def ivfPqKnn(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4,
      subspaces: Int = 4, subDim: Int = 16, codebookSize: Int = 16,
      salts: Int = 32): DataFrame = {
    val centroids = embeddings.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val residuals = ivfPqResiduals(embeddings, centroids)
    val cb = residuals.where(col("vec_id") < codebookSize)
      .select(col("vec_id").cast("int").as("cw_k"), col("r").as("cw"))
    val codes = ivfPqEncodeCodes(residuals, cb, subspaces, subDim)
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val luts = ivfPqProbeLuts(queries, centroids, cb, subspaces, subDim, nProbe)
    saltedTopK(ivfPqAdcScore(codes, luts, subspaces),
      score = "adc_dist", ascending = true, k = k, salts = salts)
  }

  /** The assign-half of IVFADC: coarse assignment + residual in one
    * pass — r = v − c(v), element-wise double (float32 inputs subtract
    * exactly in double, so the oracle's CAST-to-DOUBLE arithmetic
    * matches bit-for-bit). Returns (vec_id, c_id, r: array<double>).
    * Shared by [[ivfPqKnn]] and the persisted [[IvfPqIndex]]. */
  private[graft] def ivfPqResiduals(
      vectors: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssign(vectors, centroids)
      .join(broadcast(centroids), "c_id")
      .select(col("vec_id"), col("c_id"),
        zip_with(col("embedding"), col("c_vec"),
          (x, y) => x.cast("double") - y.cast("double")).as("r"))

  /** [[ivfPqKnn]]'s seed residual codebook as a standalone table —
    * residuals of the first `codebookSize` vectors against the given
    * centroids, in [[IvfPqIndex.write]]'s (cw_k int, cw array<double>)
    * form. The persisted tier stores exactly this (or a [[kmeans]]-
    * trained equivalent) once, for the life of the index. */
  def ivfPqSeedCodebook(
      vectors: DataFrame, centroids: DataFrame,
      codebookSize: Int = 16): DataFrame =
    ivfPqResiduals(vectors.where(col("vec_id") < codebookSize), centroids)
      .select(col("vec_id").cast("int").as("cw_k"), col("r").as("cw"))

  /** PQ-encode residual rows (vec_id, c_id, r) against a FIXED
    * residual codebook (cw_k int, cw array<double>) → (vec_id, c_id,
    * c0..c_{M−1}): codebookSize broadcast rows per vector, argmin(d2,
    * k) per subspace — struct-min ties break to the smallest codeword
    * — carrying the vector's inverted list through the aggregation. */
  private[graft] def ivfPqEncodeCodes(
      residuals: DataFrame, cb: DataFrame,
      subspaces: Int, subDim: Int): DataFrame = {
    val d2 = pqSubD2(subDim) _
    val enc = residuals.crossJoin(broadcast(cb))
      .select(col("vec_id") +: col("c_id") +: col("cw_k") +:
        (0 until subspaces).map(m =>
          d2(m, col("r"), col("cw")).as(s"d2_$m")): _*)
    val codeAggs = first(col("c_id")).as("c_id") +:
      (0 until subspaces).map(m =>
        min(struct(col(s"d2_$m"), col("cw_k")))
          .getField("cw_k").as(s"c$m"))
    enc.groupBy("vec_id").agg(codeAggs.head, codeAggs.tail: _*)
  }

  /** Probe selection + per-(query, probed centroid) ADC lookup tables:
    * the query's `nProbe` nearest centroids (same ranking as
    * [[ivfServe]]), then one cw_k-ordered LUT per probed list from the
    * query's residual against THAT centroid. Returns (query_id, c_id,
    * lut_0..lut_{M−1}) — |Q|·nProbe rows, broadcast by the scorer. */
  private[graft] def ivfPqProbeLuts(
      queries: DataFrame, centroids: DataFrame, cb: DataFrame,
      subspaces: Int, subDim: Int, nProbe: Int): DataFrame = {
    val d2 = pqSubD2(subDim) _
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("p_cos").desc, col("c_id").asc)
    val probes = queries
      .join(broadcast(centroids))
      .select(col("query_id"), col("c_id"),
        cosine(col("q"), col("c_vec")).as("p_cos"),
        zip_with(col("q"), col("c_vec"),
          (x, y) => x.cast("double") - y.cast("double")).as("qr"))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select("query_id", "c_id", "qr")
    val qd2 = probes.crossJoin(broadcast(cb))
      .select(col("query_id") +: col("c_id") +: col("cw_k") +:
        (0 until subspaces).map(m => d2(m, col("qr"), col("cw")).as(s"d2_$m")): _*)
    val lutAggs = (0 until subspaces).map(m =>
      transform(array_sort(collect_list(struct(col("cw_k"), col(s"d2_$m")))),
        e => e.getField(s"d2_$m")).as(s"lut_$m"))
    qd2.groupBy("query_id", "c_id")
      .agg(lutAggs.head, lutAggs.tail: _*)
  }

  /** ADC distance of every (query, probed-list vector) pair: LUTs
    * broadcast-joined into the codes on c_id — the IVF pruning term;
    * over [[IvfPqIndex]]'s c_id-partitioned segments the join's filter
    * reaches the parquet sources as a partition filter — then
    * `subspaces` table adds per candidate, self-matches excluded. */
  private[graft] def ivfPqAdcScore(
      codes: DataFrame, luts: DataFrame, subspaces: Int): DataFrame =
    codes.join(broadcast(luts), "c_id")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (0 until subspaces).map(m =>
          element_at(col(s"lut_$m"), col(s"c$m") + 1)).reduce(_ + _).as("adc_dist"))

  /** Fully TRAINED IVFADC — [[ivfPqKnn]] with both trained halves:
    * coarse centroids from the in-engine [[kmeans]] (cosine Lloyd,
    * the exact trajectory `knn_ivf_trained` pins) and a residual
    * codebook trained per subspace by L2 Lloyd over the residual
    * slices (the [[pqKnnTrained]] grouped-loop recipe; trained
    * codewords land as float32 — the family convention for every
    * trained state, kmeans centroids and PQ codebooks alike — while
    * the residuals being encoded stay exact doubles). Completes the
    * seed/trained symmetry of the tier
    * family: IVF, PQ, and IVFADC each serve from either a seeded or
    * a Lloyd-trained state with a bit-exact oracle.
    *
    * Trained state is kept per-(subspace m, codeword): encode and the
    * per-(query, probed centroid) LUTs slice once and join the
    * broadcast per-m codebook — no cross-subspace coupling, so a
    * cluster emptying during training shrinks only its own subspace's
    * codebook (dense re-key per m, exactly like [[pqKnnTrained]]).
    * Scoring reuses [[ivfPqAdcScore]] verbatim: both prunings hold.
    *
    * Deterministic end to end (fixed-point-exact means, strict-first
    * tie-breaks), so the DuckDB oracle replays coarse training,
    * residuals, residual-codebook training, encode, per-probe LUTs,
    * ADC, and top-k bit-for-bit.
    *
    * Scale shape: training touches the corpus once per Lloyd round
    * via the one materialized slice relation (the kmeans lesson);
    * serving is [[ivfPqKnn]]'s — trained state broadcasts, corpus
    * scanned once to assign+encode and never shuffled to score. */
  def ivfPqKnnTrained(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4,
      subspaces: Int = 4, subDim: Int = 16, codebookSize: Int = 16,
      coarseIters: Int = 3, pqIters: Int = 2, salts: Int = 32): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    Storage.releasing(
        kmeans(emb, nCentroids, coarseIters, dims = subspaces * subDim)) { centroids =>
      // the residual relation feeds training AND encode — materialize
      // once (plan branches share no work), release before return
      Storage.pinning(ivfPqResiduals(emb, centroids)) { residuals =>
        val sliced = ivfPqSliceResiduals(residuals, subspaces, subDim)
          .transform(Storage.pin)
        Storage.releasing(sliced) { _ =>
          Storage.releasing(
              trainResidualCodebook(sliced, subDim, codebookSize, pqIters)) { cbDense =>
            val codes = ivfPqEncodePerM(sliced, cbDense, subspaces)
            val queries = emb.where(col("vec_id") < nQueries)
              .select(col("vec_id").as("query_id"), col("embedding").as("q"))
            val luts = ivfPqLutsPerM(
              queries, centroids, cbDense, subspaces, subDim, nProbe)
            saltedTopK(ivfPqAdcScore(codes, luts, subspaces),
              score = "adc_dist", ascending = true, k = k, salts = salts)
              .transform(Storage.pin)
          }
        }
      }
    }
  }

  /** The TRAINED IVFADC state pair, materialized — coarse centroids
    * from [[kmeans]] plus the per-subspace Lloyd residual codebook
    * (m, cw_k, cw: array<float>, dense per m) — exactly the state
    * [[ivfPqKnnTrained]] derives internally, exposed so the persisted
    * [[IvfPqIndex.writeTrained]] tier can run the production shape:
    * train once (here), persist, then encode every arriving epoch
    * against the STORED state forever. The caller owns both frames. */
  def ivfPqTrainState(
      embeddings: DataFrame, nCentroids: Int = 16,
      subspaces: Int = 4, subDim: Int = 16, codebookSize: Int = 16,
      coarseIters: Int = 3, pqIters: Int = 2): (DataFrame, DataFrame) = {
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val centroids = kmeans(emb, nCentroids, coarseIters, dims = subspaces * subDim)
    // residuals feed EXACTLY ONE consumer (the slicer), so the pair
    // fuses into a single materialization — the Lloyd loop re-reads
    // only the sliced checkpoint, and a separate residuals checkpoint
    // was one full corpus write+read for nothing
    val sliced = ivfPqSliceResiduals(
      ivfPqResiduals(emb, centroids), subspaces, subDim)
      .transform(Storage.pin)
    Storage.releasing(sliced)(
      sliced => (centroids, trainResidualCodebook(sliced, subDim, codebookSize, pqIters)))
  }

  /** Slice residual rows (vec_id, c_id, r) into per-subspace rows
    * (vec_id, c_id, m, sv: subDim-length array<double>) with a loud
    * dimension guard — the common front of the per-m trained-codebook
    * paths (training, encode). */
  private[graft] def ivfPqSliceResiduals(
      residuals: DataFrame, subspaces: Int, subDim: Int): DataFrame = {
    val guarded = when(size(col("r")) === subspaces * subDim, col("r"))
      .otherwise(raise_error(concat(
        lit(s"ivfPq: residual dimension must be $subspaces*$subDim = " +
          s"${subspaces * subDim}, got "), size(col("r")).cast("string"))))
    residuals.select(col("vec_id"), col("c_id"),
      posexplode(array((0 until subspaces).map(m =>
        slice(guarded, m * subDim + 1, subDim)): _*)))
      .toDF("vec_id", "c_id", "m", "sv")
  }

  /** Strict left-to-right Σ(a_i−b_i)² over two equal-length lists —
    * float elements widen to double per element, matching the oracle's
    * CAST AS DOUBLE arithmetic. */
  private def perMD2(
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)

  /** Encode against a PER-SUBSPACE codebook (m, cw_k, cw): argmin d2
    * per (vector, subspace) against the broadcast per-m codebook, the
    * subspace pivot folded into ONE aggregation carrying the vector's
    * inverted list. Input is [[ivfPqSliceResiduals]]' shape; returns
    * (vec_id, c_id, c0..c_{M−1}) — the same segment schema as the
    * full-dim [[ivfPqEncodeCodes]], so both codebook forms share the
    * persisted layout and [[ivfPqAdcScore]]. */
  private[graft] def ivfPqEncodePerM(
      sliced: DataFrame, cbPerM: DataFrame, subspaces: Int): DataFrame = {
    val enc = sliced.join(broadcast(cbPerM), "m")
      .select(col("vec_id"), col("c_id"), col("m"), col("cw_k"),
        perMD2(col("sv"), col("cw")).as("d2"))
    val codeCols = first(col("c_id")).as("c_id") +:
      (0 until subspaces).map(m =>
        min(when(col("m") === m, struct(col("d2"), col("cw_k"))))
          .getField("cw_k").as(s"c$m"))
    enc.groupBy("vec_id").agg(codeCols.head, codeCols.tail: _*)
  }

  /** Per-(query, probed centroid) ADC LUTs against a PER-SUBSPACE
    * codebook: probe selection as in [[ivfPqProbeLuts]], the query
    * residual sliced per m and scored against the per-m codebook,
    * pivoted in one agg. Returns (query_id, c_id, lut_0..lut_{M−1}) —
    * |Q|·nProbe rows, broadcast by the scorer. */
  private[graft] def ivfPqLutsPerM(
      queries: DataFrame, centroids: DataFrame, cbPerM: DataFrame,
      subspaces: Int, subDim: Int, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("p_cos").desc, col("c_id").asc)
    val probes = queries
      .join(broadcast(centroids))
      .select(col("query_id"), col("c_id"),
        cosine(col("q"), col("c_vec")).as("p_cos"),
        zip_with(col("q"), col("c_vec"),
          (x, y) => x.cast("double") - y.cast("double")).as("qr"))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("c_id"),
        posexplode(array((0 until subspaces).map(m =>
          slice(col("qr"), m * subDim + 1, subDim)): _*)))
      .toDF("query_id", "c_id", "m", "qsv")
    val qenc = probes.join(broadcast(cbPerM), "m")
      .select(col("query_id"), col("c_id"), col("m"), col("cw_k"),
        perMD2(col("qsv"), col("cw")).as("d2"))
    val lutCols = (0 until subspaces).map(m =>
      transform(array_sort(collect_list(when(col("m") === m,
        struct(col("cw_k"), col("d2"))))), e => e.getField("d2")).as(s"lut_$m"))
    qenc.groupBy("query_id", "c_id")
      .agg(lutCols.head, lutCols.tail: _*)
  }

  /** [[ivfPqKnnTrained]]'s residual-codebook trainer: per-subspace L2
    * Lloyd over ALREADY-SLICED residual rows (vec_id, c_id, m, sv:
    * array<double>), all subspaces in one grouped loop ([[pqKnnTrained]]'s
    * recipe) — seed = the first `codebookSize` vectors' raw double
    * slices, argmin by strict-first scan (ties → lowest cw_k), means
    * as exact 2^36 fixed-point long sums divided in double then
    * rounded to float32 (the family convention for trained state;
    * distances against the float codewords still evaluate in double;
    * the 2^-36 input quantization is deterministic and far below the
    * float32 output precision), surviving
    * codewords re-keyed dense per m. Returns the eagerly-materialized
    * per-m codebook (m, cw_k, cw). */
  private def trainResidualCodebook(
      sliced: DataFrame, subDim: Int, codebookSize: Int,
      iters: Int): DataFrame = {
    val d2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t)
    val seed = sliced.where(col("vec_id") < codebookSize)
      .select(col("m"), col("vec_id").cast("int").as("cw_k"), col("sv").as("cw"))
      .groupBy("m")
      .agg(array_sort(collect_list(struct(col("cw_k"), col("cw")))).as("cents"))
      .transform(Storage.pin)
    val trained = Storage.rounds(seed, iters) { cents =>
      val assigned = sliced.join(broadcast(cents), "m")
        .select(col("m"), col("sv"),
          aggregate(col("cents"),
            struct(lit(Double.NegativeInfinity).as("key"), lit(-1).as("cw_k")),
            (acc, c) => {
              // argmax of -d2 == argmin d2; strict > keeps the FIRST
              // (lowest cw_k) on ties, matching ORDER BY d2, cw_k
              val key = -d2(col("sv"), c.getField("cw"))
              when(key > acc.getField("key"),
                struct(key.as("key"), c.getField("cw_k").as("cw_k")))
                .otherwise(acc)
            }).getField("cw_k").as("cw_k"))
      // fixed-point means — see fpSum/fpMean
      val sumCols = (0 until subDim).map(d =>
        fpSum(element_at(col("sv"), d + 1)).as(s"s$d"))
      assigned.groupBy("m", "cw_k")
        .agg(sumCols.head, (sumCols.tail :+ count(lit(1)).as("n")): _*)
        .select(col("m"), col("cw_k"),
          array((0 until subDim).map(d =>
            fpMean(col(s"s$d"), col("n"))): _*).as("cw"))
        .groupBy("m")
        .agg(array_sort(collect_list(struct(col("cw_k"), col("cw")))).as("cents"))
    }
    Storage.releasing(trained)(
      _.select(col("m"), explode(col("cents")).as("c"))
        .select(col("m"),
          (row_number().over(Window.partitionBy("m").orderBy(col("c.cw_k"))) - 1)
            .cast("int").as("cw_k"),
          col("c.cw").as("cw"))
        .transform(Storage.pin))
  }

  /** Semantic deduplication (SemDeDup-style): k-means-cluster the
    * embedding space with the in-engine [[kmeans]] trainer, then keep
    * ONE representative per cluster — the member closest to its
    * centroid (max cosine, ties → lowest vec_id). Near-duplicate
    * *meanings* land in the same cluster even when their token
    * overlap is zero, which is the gap all the text-hash dedup
    * families share.
    *
    * Scale shape: training is [[kmeans]] (one broadcast-assignment
    * pass + one map-side-combinable mean recompute per iteration);
    * the final assignment is the same broadcast join + max_by as
    * [[ivfKnnWith]] (shuffle ≈ n rows, never n×K); the survivor pick
    * is one map-side-combinable max_by per cluster. Nothing touches
    * the driver; the whole trajectory is deterministic, so the DuckDB
    * oracle replays it bit-for-bit. */
  def semanticDedup(
      embeddings: DataFrame, k: Int = 16, iters: Int = 3,
      dims: Int = 64): DataFrame = {
    // the trained centroid block is released once the k-row result
    // materializes — the operator's retained footprint is its answer
    Storage.releasing(kmeans(embeddings, k, iters, dims = dims)) { centroids =>
      val assigned = embeddings
        .join(broadcast(centroids))
        .select(col("vec_id"), col("c_id"),
          cosine(col("embedding"), col("c_vec")).as("c_cos"))
        .groupBy("vec_id")
        .agg(max_by(
          struct(col("c_id"), col("c_cos")),
          struct(col("c_cos"), (-col("c_id")).cast("double"))).as("a"))
        .select(col("vec_id"), col("a.c_id").as("c_id"), col("a.c_cos").as("cos"))
      assigned
        .groupBy("c_id")
        .agg(
          count(lit(1)).as("n_members"),
          max_by(
            struct(col("vec_id"), col("cos")),
            struct(col("cos"), -col("vec_id"))).as("keep"))
        .select(col("c_id"), col("keep.vec_id").as("keep_vec_id"),
          col("n_members"), round(col("keep.cos"), 6).as("keep_cos"))
        .transform(Storage.pin)
    }
  }

  /** What MMR BUYS, measured: per query the intra-list similarity
    * (ILS — mean pairwise cosine of the returned set) of the plain
    * top-k next to the MMR top-k. A diversified list has lower ILS at
    * the same shortlist; this is the number a deployment reads to
    * decide whether λ is doing anything. Pairwise-sum order is made
    * engine-independent with the family's 2^36 fixed-point recipe
    * ([[kmeans]]' fpSum — exact integer sums, one double division),
    * so both columns replay bit-for-bit in DuckDB.
    *
    * Scale shape: both rankings are output-sized inputs (|queries|·k
    * rows); the pairwise expansion is k²-per-query over those rows
    * only — the corpus is touched exactly by the two shortlist
    * stages. */
  def mmrDiversityEval(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      shortlist: Int = 20, lam: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val fp = 68719476736L // 2^36 — the shared fixed-point scale
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    def ils(picks: DataFrame, name: String): DataFrame = {
      val withV = picks
        .join(emb, "vec_id")
        .select(col("query_id"), col("vec_id"), col("embedding"))
      val a = withV.toDF("query_id", "a_id", "a_v")
      val b = withV.toDF("query_id", "b_id", "b_v")
      a.join(b, Seq("query_id"))
        .where(col("a_id") < col("b_id"))
        .select(col("query_id"), cosine(col("a_v"), col("b_v")).as("cos"))
        .groupBy("query_id")
        .agg((sum(floor(col("cos") * fp + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
          / count(lit(1)) / fp).as(name))
    }
    Storage.releasing(mmrRerank(embeddings, nQueries, k, shortlist, lam, mu)) { mmrRes =>
      val plain = ils(
        bruteForceKnn(emb, nQueries, k).select("query_id", "vec_id"), "ils_topk")
      val diverse = ils(mmrRes.select("query_id", "vec_id"), "ils_mmr")
      plain.join(diverse, "query_id").transform(Storage.pin)
    }
  }

  /** Self-supervised dataset PRUNING (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): train k-means prototypes over the
    * embedding corpus, then per cluster keep the HARDEST ⌈n/2⌉
    * members — the ones farthest from their own prototype (lowest
    * assignment cosine), which carry the most training signal; the
    * easy near-prototype redundant examples drop. Keep rule is exact
    * integer arithmetic (2·rank ≤ n+1, ties (cos asc, vec_id asc)),
    * training is the engine's deterministic fixed-point Lloyd
    * ([[kmeans]]), so the whole train→assign→rank→keep trajectory
    * replays bit-for-bit in DuckDB.
    *
    * 100 TB shape: the k centroids broadcast to assign (the corpus is
    * never shuffled for assignment — [[kmeans]]' own property); the
    * ONE shuffle is the per-cluster rank window keyed by c_id.
    * Cluster sizes are ~corpus/k by construction of the trainer; a
    * megacluster regime (k chosen far too small) makes that window a
    * straggler, and the fix is the same monitored-skew playbook as
    * the probe caps — size k so clusters bound, watch the
    * [[semanticDedup]] n_members view. */
  def pruneHard(
      embeddings: DataFrame, k: Int = 16, iters: Int = 3,
      dims: Int = 64): DataFrame = {
    Storage.releasing(kmeans(embeddings, k, iters, dims = dims)) { centroids =>
      val assigned = embeddings
        .join(broadcast(centroids))
        .select(col("vec_id"), col("c_id"),
          cosine(col("embedding"), col("c_vec")).as("c_cos"))
        .groupBy("vec_id")
        .agg(max_by(
          struct(col("c_id"), col("c_cos")),
          struct(col("c_cos"), (-col("c_id")).cast("double"))).as("a"))
        .select(col("vec_id"), col("a.c_id").as("c_id"), col("a.c_cos").as("cos"))
      val w = Window.partitionBy("c_id").orderBy(col("cos").asc, col("vec_id").asc)
      assigned
        .withColumn("hard_rank", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("c_id")))
        .where(col("hard_rank") * 2 <= col("n") + 1)
        .select(col("c_id"), col("vec_id"), col("hard_rank"), col("cos"))
        .transform(Storage.pin)
    }
  }

  /** Brute-force near-dup definition: all pairs within a label block.
    * Exact by construction; the correctness baseline the banded-LSH
    * operator is verified against. Only safe when blocks are small —
    * the pair space is O(|block|²). */
  /** Hybrid lexical + dense retrieval with reciprocal-rank fusion
    * (Cormack, Clarke & Büttcher 2009) — the production search stack
    * in one operator: a sparse (token-overlap) ranking and a dense
    * (embedding-cosine) ranking are computed per query, each cut to
    * its top-`m`, and fused by RRF(d) = Σ_lists 1/(rrfK + rank_d),
    * docs absent from a list contributing nothing from it.
    *
    * Inputs: `lexical(doc_id, toks)` — DISTINCT token sets — and
    * `embeddings(vec_id, embedding)`; the corpus is their inner join
    * on doc_id = vec_id, queries are ids < `nQueries` (query-by-
    * example: the query's own tokens and embedding, self excluded).
    *
    * Determinism: ranks are integers from the salted top-`m` (total
    * order score desc, id asc); the only FP steps are the cosine
    * (left-to-right kernel, oracle-identical), one int division for
    * Jaccard, and the two-term RRF sum in fixed dense-then-lexical
    * order — every one an identically-ordered IEEE op in DuckDB.
    *
    * 100 TB shape: the query batch broadcasts; BOTH scores come out
    * of ONE pass over the joined corpus (one projection computes cos
    * and jac side by side) into a PERSISTED (nQueries·|corpus|)-row
    * scored relation of four scalar columns — orders of magnitude
    * narrower than the corpus — which both top-`m` reductions then
    * consume from cache. (Exchange reuse can't do this: the rank
    * pushdown injects a different pre-shuffle WindowGroupLimit sort
    * per score, so the branches' exchange subtrees never
    * canonicalize equal and an unpersisted form re-scans the corpus
    * per ranking.) Fusion touches ≤ 2m rows per query; the result is
    * materialized and the cache released before returning. Nothing
    * corpus-wide is windowed, collected, or re-shuffled. */
  def hybridRrf(
      lexical: DataFrame, embeddings: DataFrame, nQueries: Int = 8,
      m: Int = 20, k: Int = 10, rrfK: Int = 60,
      salts: Int = 32): DataFrame = {
    val corpus = lexical
      .join(embeddings, lexical("doc_id") === embeddings("vec_id"))
      .select(col("vec_id"), col("toks"), col("embedding"))
    val queries = corpus
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("toks").as("qt"),
        col("embedding").as("qv"))
    val inter = size(array_intersect(col("qt"), col("toks")))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("embedding")).as("cos"),
        (inter.cast("double") /
          (size(col("qt")) + size(col("toks")) - inter)).as("jac"))
    // the cache is filled by its own job: the dense and lexical
    // branches otherwise race to fill it on first execution and the
    // corpus join+cosine pass can run twice
    Storage.caching(scored) { scored =>
      val dense = saltedTopK(scored, "cos", ascending = false, k = m, salts = salts)
        .select(col("query_id"), col("vec_id"), col("rank").as("dense_rank"))
      val lex = saltedTopK(scored, "jac", ascending = false, k = m, salts = salts)
        .select(col("query_id"), col("vec_id"), col("rank").as("lex_rank"))
      val fused = dense
        .join(lex, Seq("query_id", "vec_id"), "full_outer")
        .select(col("query_id"), col("vec_id"),
          col("dense_rank"), col("lex_rank"),
          (coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)))
            .as("rrf"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("vec_id").asc)
      fused
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          round(col("rrf"), 6).as("rrf"), col("rank"))
        // materialize before the scope releases the scored cache
        .transform(Storage.pin)
    }
  }

  /** Token-Jaccard top-`m` per query — [[hybridRrf]]'s lexical signal
    * as a standalone ranking (query-by-example, self excluded), for
    * fusion with a PERSISTED dense tier via [[rrfFuse]]. `lexical` is
    * (doc_id, toks); queries are the corpus entries with doc_id <
    * nQueries. Queries broadcast; the corpus is scanned once and
    * never shuffled (salted top-k). */
  def lexicalTopM(
      lexical: DataFrame, nQueries: Int = 8, m: Int = 20,
      salts: Int = 32): DataFrame = {
    val corpus = lexical.select(col("doc_id").as("vec_id"), col("toks"))
    val queries = corpus.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("toks").as("qt"))
    val inter = size(array_intersect(col("qt"), col("toks")))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (inter.cast("double") /
          (size(col("qt")) + size(col("toks")) - inter)).as("jac"))
    saltedTopK(scored, "jac", ascending = false, k = m, salts = salts)
  }

  /** Reciprocal-rank fusion of two already-ranked signals — the
    * fusion seam of [[hybridRrf]] exposed for PERSISTED tiers: any
    * two (query_id, vec_id, rank ≤ m) rankings fuse identically
    * (Cormack et al. 2009), so a deployment can swap the in-memory
    * exact dense pass for an ANN index serve without touching the
    * fusion contract. Output-sized throughout (≤ 2m rows per query
    * in, k out); same output schema and rounding as [[hybridRrf]]. */
  def rrfFuse(
      dense: DataFrame, lex: DataFrame, k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    val d = dense.select(col("query_id"), col("vec_id"),
      col("rank").cast("int").as("dense_rank"))
    val l = lex.select(col("query_id"), col("vec_id"),
      col("rank").cast("int").as("lex_rank"))
    val fused = d.join(l, Seq("query_id", "vec_id"), "full_outer")
      .select(col("query_id"), col("vec_id"),
        col("dense_rank"), col("lex_rank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("vec_id").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        round(col("rrf"), 6).as("rrf"), col("rank"))
  }

  def cosineNearDupExact(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val a = embeddings.select(col("label"), col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = embeddings.select(col("label"), col("vec_id").as("b_id"), col("embedding").as("b_v"))
    a.join(b, Seq("label"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("a_v"), col("b_v")).as("cos"))
      .where(col("cos") >= threshold)
  }

}
