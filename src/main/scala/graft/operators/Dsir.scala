package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
  * select raw-corpus documents whose hashed n-gram distribution looks
  * like a target corpus. The classic pretraining-mix lever — "give me
  * web pages that look like Wikipedia" — reduced to three passes:
  *
  *  1. featurize every doc into hashed n-gram bucket counts
  *     (unigrams + bigrams, md5 → 16 bits → mod nBuckets);
  *  2. fit two smoothed bag-of-buckets models — p̂ on the target
  *     slice, q̂ on the full raw corpus — and keep only the
  *     per-bucket log ratio ln p̂[b] − ln q̂[b];
  *  3. score each doc logw = Σ_b c_doc[b]·lr[b] and resample via
  *     deterministic Gumbel top-k (sampling without replacement
  *     proportional to the importance weights).
  *
  * Scale shape (the 100 TB story): the model fit is ONE corpus pass —
  * explode + a map-side-combinable count keyed bucket, collapsing to
  * nBuckets rows (hundreds — broadcastable by construction,
  * independent of corpus size; the corpus totals derive from those
  * rows, never from a second scan). Scoring is ONE more pass: explode
  * + broadcast model join + per-doc decimal sum (partials combine
  * map-side, so the only exchange moves ≤ |docs| rows). Selection is
  * a global top-k (TakeOrderedAndProject — per-partition heaps, no
  * global sort). Two passes total, two exchanges, nothing keyed finer
  * than doc_id — the floor for a fit-then-score algorithm.
  *
  * Determinism contract (what makes this oracle-able): the only
  * floating-point steps are ln() of *integer-valued* doubles in a
  * fixed expression order, each rounded to 6 decimals and pinned to
  * DECIMAL(18,6) BEFORE any data-dependent accumulation; the per-doc
  * sum is decimal arithmetic — exact and order-independent. The
  * Gumbel noise is a pure function of doc_id (md5 → dyadic uniform →
  * two more ln's → round 6), never of partitioning or time.
  */
object Dsir {

  /** 16-bit bucket of an n-gram string: first 4 hex chars of md5,
    * reduced mod nBuckets. Byte-identical in DuckDB (strpos-nibble
    * arithmetic over the same md5 hex). */
  private def bucketOf(ng: Column, nBuckets: Int): Column =
    conv(substring(md5(ng), 1, 4), 16, 10).cast("long") % nBuckets

  /** One occurrence row per n-gram: (doc_id, is_target, bucket).
    * Features are non-distinct unigrams + bigrams over lowercased
    * whitespace tokens — occurrences, not sets, per the DSIR bag
    * model. Both the model fit and the scorer aggregate this relation
    * directly (each with ONE map-side-combinable exchange on its own
    * key) — a (doc, bucket) pre-aggregation in between would only add
    * a shuffle. */
  def ngramOccurrences(docs: DataFrame, targetPred: Column, nBuckets: Int): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val unigrams = filter(toks, t => length(t) > 0)
    val bigrams = TextFunctions.shingles(toks, 2)
    docs
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(concat(unigrams, bigrams)).as("ng"))
      .select(col("doc_id"), col("is_target"),
        bucketOf(col("ng"), nBuckets).as("bucket"))
  }

  /** The fitted model: DENSE per-bucket log ratio
    * round(ln p̂[b] − ln q̂[b], 6) pinned to DECIMAL(18,6), with
    * add-one smoothing over nBuckets. Dense (all nBuckets rows, zero
    * counts smoothed in) so a consumer scoring a DIFFERENT corpus —
    * the streaming admission gate — never misses a bucket. nBuckets
    * rows regardless of corpus size: the broadcastable training
    * artifact of this operator family. ONE corpus pass: the corpus
    * totals derive from the nBuckets-row stats, never from a second
    * scan. */
  def logRatioModel(docs: DataFrame, targetPred: Column, nBuckets: Int): DataFrame =
    lrFromStats(denseStats(docs, targetPred, nBuckets), nBuckets)

  /** Dense (bucket, rc, tc) count statistics of a corpus — the
    * SUFFICIENT STATISTIC of the model, and additive: stats of a
    * corpus union are the element-wise sum of per-part stats, which is
    * what makes the fit incrementally maintainable
    * ([[updateStats]] / [[graft.streaming.StreamingOps.dsirModelStream]]).
    * Materialized (nBuckets rows — one tiny job): every consumer (the
    * totals fold, the lr projection, the next incremental update)
    * reads this leaf; lazily each branch would re-run the whole corpus
    * aggregate (plan branches share nothing). */
  def denseStats(docs: DataFrame, targetPred: Column, nBuckets: Int): DataFrame = {
    val stats = ngramOccurrences(docs, targetPred, nBuckets)
      .groupBy("bucket").agg(
        count(lit(1)).as("rc"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"))
    docs.sparkSession.range(nBuckets)
      .select(col("id").as("bucket"))
      .join(stats, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      .localCheckpoint(true)
  }

  /** Zero-count initial state for an incremental fit. */
  def emptyStats(spark: SparkSession, nBuckets: Int): DataFrame =
    spark.range(nBuckets)
      .select(col("id").as("bucket"), lit(0L).as("rc"), lit(0L).as("tc"))
      .localCheckpoint(true)

  /** Fold one micro-batch into dense stats: element-wise count
    * addition over the nBuckets-row state — the entire incremental
    * model-maintenance step (the counts are the sufficient statistic;
    * nothing else carries over). Returns the new materialized state;
    * the caller owns unpersisting the old one. */
  def updateStats(
      state: DataFrame, batch: DataFrame, targetPred: Column,
      nBuckets: Int): DataFrame = {
    Storage.releasing(denseStats(batch, targetPred, nBuckets)
        .select(col("bucket"), col("rc").as("drc"), col("tc").as("dtc")))(
      statsFoldPlan(state, _).localCheckpoint(true))
  }

  /** Pure fold plan for one [[updateStats]] step — factored out so
    * PLAN_DIGEST can publish the inner tree (the per-epoch checkpoint
    * hides it) and the fixed-size shape is pinnable: an nBuckets-row ×
    * nBuckets-row join of two already-materialized leaves with
    * element-wise count addition — the whole incremental model-
    * maintenance step never touches anything sized by the stream. */
  private[graft] def statsFoldPlan(state: DataFrame, delta: DataFrame): DataFrame =
    state.join(delta, Seq("bucket"), "left")
      .select(col("bucket"),
        (col("rc") + coalesce(col("drc"), lit(0L))).as("rc"),
        (col("tc") + coalesce(col("dtc"), lit(0L))).as("tc"))

  /** The lr projection over materialized dense stats — shared by the
    * one-shot batch fit and the incremental state: identical counts ⇒
    * identical model, so a fold of [[updateStats]] over any batch
    * split of a corpus yields EXACTLY [[logRatioModel]] of the whole
    * (pinned in DsirSpec). */
  def lrFromStats(dense: DataFrame, nBuckets: Int): DataFrame = {
    val totals = dense.agg(
      sum(col("rc")).as("r"), sum(col("tc")).as("t"))
    // fixed term order — both engines evaluate the identical ln-of-
    // integer chain before the 6-decimal pin
    dense.crossJoin(broadcast(totals)).select(
      col("bucket"),
      round(log(col("tc") + 1) - log(col("t") + nBuckets)
          - log(col("rc") + 1) + log(col("r") + nBuckets), 6)
        .cast(DecimalType(18, 6)).as("lr"))
  }

  /** Score a corpus against an already-fit model:
    * logw = Σ occurrences lr[bucket] as an exact decimal sum (equal to
    * the Σ_b c[b]·lr[b] form — decimal addition is associative-exact).
    * One corpus pass, one doc_id exchange (partial sums combine
    * map-side). Returns (doc_id, n_feats, logw DOUBLE). */
  def scoreAgainst(model: DataFrame, docs: DataFrame, nBuckets: Int): DataFrame =
    ngramOccurrences(docs, lit(false), nBuckets)
      .join(broadcast(model), "bucket")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_feats"),
        sum(col("lr")).as("logw_dec"))
      .select(col("doc_id"), col("n_feats"),
        col("logw_dec").cast("double").as("logw"))

  /** logw per doc of the corpus the model was fit on (fit + score in
    * one call — the batch DSIR selection path). Lifecycle note: the
    * fit pins one nBuckets-row checkpoint for the life of the returned
    * plan; callers that score repeatedly or need explicit release
    * should hold [[denseStats]] themselves (score via [[lrFromStats]]
    * + [[scoreAgainst]] — the pattern TextQueries' dsirStats memo
    * implements). */
  def importanceWeights(docs: DataFrame, targetPred: Column, nBuckets: Int): DataFrame =
    scoreAgainst(logRatioModel(docs, targetPred, nBuckets), docs, nBuckets)

  /** In-row scoring expression against a COLLECTED model map
    * (bucket → lr): the stateless form a streaming gate needs — no
    * aggregation, no state, one map lookup per n-gram occurrence,
    * exact-decimal left-to-right accumulation (decimal addition is
    * associative-exact, so this equals the batch groupBy sum
    * bit-for-bit). Zero-feature docs (empty/whitespace-only text)
    * score NULL, not 0 — the batch scorer emits no row for them
    * (explode produces nothing), so a 0 here would let content-free
    * docs through any gate with minLogw <= 0 where batch admission
    * would not. `lrMap` is the one-row broadcast artifact built by
    * [[modelAsMap]]. */
  def scoreInRow(text: Column, lrMap: Column, nBuckets: Int): Column = {
    val toks = TextFunctions.tokens(text)
    // pinned to ONE evaluation: both size() and the fold below
    // reference it, and CollapseProject would otherwise inline the
    // tokenize+shingle pipeline twice per row
    val ngrams = graft.functions.OptimizerBarrier.evalOnce(concat(
      filter(toks, t => length(t) > 0),
      TextFunctions.shingles(toks, 2)))
    when(size(ngrams) > 0,
      aggregate(
        ngrams,
        lit(0).cast(DecimalType(38, 6)),
        (acc, ng) => acc + element_at(lrMap, bucketOf(ng, nBuckets).cast("int"))))
  }

  /** One-row (map<int,decimal>) form of [[logRatioModel]]'s output —
    * the broadcastable literal a stream-static join carries to every
    * task. */
  def modelAsMap(model: DataFrame): DataFrame =
    model.agg(
      map_from_entries(collect_list(
        struct(col("bucket").cast("int"), col("lr")))).as("lrm"))

  /** Gumbel top-k resampling: without-replacement sampling
    * proportional to exp(logw), derandomized — the Gumbel noise for a
    * doc is a pure hash of its id (dyadic uniform u=(h16+0.5)/2^16,
    * g=−ln(−ln u)), so the selected set is reproducible across runs,
    * partitionings, and engines. Returns the k winners with their
    * perturbed keys. */
  def gumbelTopK(weights: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("double") + 0.5) / 65536.0
    weights
      .select(col("doc_id"),
        round(col("logw") - log(-log(u)), 6).as("skey"))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(k)
  }
}
