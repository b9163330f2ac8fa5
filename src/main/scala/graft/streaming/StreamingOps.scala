package graft.streaming

import graft.operators.{Dsir, LsmSegments, Storage}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import java.sql.Timestamp

/** Streaming operators beyond the reference's surface (SURVEY.md
  * §2.2 gaps): watermarked windowed aggregation, dedup-within-
  * watermark, and custom sessionization state. The reference runs its
  * stream-stream join with NO watermark (unbounded state — fine for a
  * demo, fatal at 100 TB); these builders are the bounded-state
  * versions our engine offers, while `StediPipelines` preserves the
  * reference's exact no-watermark semantics for fidelity.
  *
  * All builders are source-agnostic DataFrame transforms: bind them to
  * `readStream` in production or to a MemoryStream/batch frame in
  * tests — same plan either way.
  */
object StreamingOps {

  /** Tumbling-window event counts with a watermark bounding state. */
  def windowedEventCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window per-user activity. */
  def slidingUserActivity(
      events: DataFrame,
      windowLen: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen, slide), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n"))

  /** Event dedup on (event_id) bounded by the watermark — the
    * streaming form of exact dedup. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: a streaming fact joined against a
    * (small) static dimension. The static side is broadcast per
    * micro-batch — no streaming state at all, the scalable default for
    * dimension enrichment. */
  def enrichWithDim(
      streamingFacts: DataFrame,
      staticDim: DataFrame,
      factKey: String,
      dimKey: String): DataFrame =
    streamingFacts.join(
      broadcast(staticDim), col(factKey) === col(dimKey), "left_outer")

  /** Stream-stream inner join with BOUNDED state — the production
    * form of the reference's unbounded join (sparkpykafkajoin.py:131
    * joins with no watermark, so both sides' state grows forever):
    * watermarks on both inputs plus an event-time range in the join
    * condition let Spark evict state once the watermark passes the
    * range, keeping state proportional to the window, not the stream.
    * The caller's `condition` must include the time-range predicate
    * (e.g. `rTs BETWEEN lTs - interval AND lTs`). */
  def boundedStreamStreamJoin(
      left: DataFrame, leftTsCol: String, leftWatermark: String,
      right: DataFrame, rightTsCol: String, rightWatermark: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftWatermark)
      .join(right.withWatermark(rightTsCol, rightWatermark), condition)

  /** LEFT OUTER stream-stream join with the same dual-watermark +
    * time-range bounds: a left row that never finds a match is still
    * emitted (null right side) — but only once the watermark has
    * passed its join window, because until then a matching right row
    * could still arrive. Same state-eviction story as the inner form;
    * the outer semantics cost nothing extra at scale, the null rows
    * simply flush on watermark advance. */
  def boundedStreamStreamJoinLeftOuter(
      left: DataFrame, leftTsCol: String, leftWatermark: String,
      right: DataFrame, rightTsCol: String, rightWatermark: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftWatermark)
      .join(right.withWatermark(rightTsCol, rightWatermark), condition, "left_outer")

  case class SessionEvent(user_id: Long, ts: Timestamp, event_type: String)
  case class SessionState(start: Long, last: Long, n: Int)
  case class UserSession(user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Int)

  /** Custom sessionization via flatMapGroupsWithState: emit a session
    * when a user goes quiet for `gapMs`. Pass
    * GroupStateTimeout.ProcessingTimeTimeout in production so the tail
    * session of an idle user also closes (and its state is evicted);
    * the default NoTimeout keeps micro-batch tests deterministic. */
  def sessionize(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[UserSession] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, timeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val out = Seq.newBuilder[UserSession]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  out += UserSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(gapMs)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming Count-Min sketch: the CMS counter matrix maintained as
    * a streaming aggregation — each input key increments its `depth`
    * md5-derived (d, bucket) cells, so the streaming STATE is the
    * sketch itself and is bounded at depth×width rows NO MATTER how
    * many distinct keys the stream carries (the whole point of
    * sketching an unbounded stream; a plain streaming
    * `groupBy(key).count()` would grow state linearly forever). Same
    * bucket formula as the batch `sketch_cms` query, so a snapshot of
    * this state is interchangeable with the batch-built sketch —
    * StreamingOpsSpec pins that equivalence across micro-batches. */
  def streamingCms(
      keyed: DataFrame,
      keyCol: String = "user_id",
      depth: Int = 4,
      width: Int = 512): DataFrame = {
    val depths = explode(array((0 until depth).map(i => lit(i)): _*)).as("d")
    keyed
      .select(col(keyCol).as("k"), depths)
      .select(col("d"),
        (conv(substring(md5(concat(col("d").cast("string"), lit(":"),
          col("k").cast("string"))), 1, 8), 16, 10).cast("long") % width)
          .as("bucket"))
      .groupBy("d", "bucket")
      .agg(count(lit(1)).as("c"))
  }

  /** Streaming Bloom filter: like [[streamingCms]], the filter's word
    * lanes ARE the streaming aggregation state — `bit_or` is
    * commutative and idempotent, so replayed or reordered micro-
    * batches cannot corrupt the bits, and state is bounded at `words`
    * rows however many keys stream past. A snapshot is interchangeable
    * with [[graft.operators.Bloom.build]]'s batch filter (same md5 /
    * 63-bit-lane layout) and probes with
    * [[graft.operators.Bloom.maybeContains]] unchanged. */
  def streamingBloom(
      keyed: DataFrame,
      keyCol: String = "user_id",
      words: Int = 64,
      k: Int = 3): DataFrame = {
    val seeds = explode(array((0 until k).map(i => lit(i)): _*)).as("seed")
    keyed
      .select(col(keyCol).as("bf_key"), seeds)
      .select((conv(substring(md5(concat(col("seed").cast("string"), lit(":"),
        col("bf_key").cast("string"))), 1, 8), 16, 10).cast("long") % (words * 63))
        .as("pos"))
      .select((col("pos") / 63).cast("int").as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 63).cast("int")).as("mask"))
      .groupBy("word")
      .agg(bit_or(col("mask")).as("bits"))
  }

  /** The LLM pretrain gate as an INCREMENTAL micro-batch pipeline —
    * the same quality-gate → language-ID → exact-text-dedup stages as
    * the batch `pipeline_pretrain` query, composed over a stream.
    * This is how a 100 TB crawl actually arrives: files land over
    * time, and each micro-batch is gated/deduped against the state of
    * everything already admitted, not re-scanned from scratch.
    *
    * Dedup state is the set of admitted texts BOUNDED by the ingest-
    * time watermark (`dropDuplicatesWithinWatermark`): a duplicate
    * arriving within `dedupHorizon` of the original is dropped; one
    * arriving later re-admits (the deliberate trade that keeps state
    * finite — crawl dedup horizons are a standard pipeline knob). The
    * quality/langid kernels are the row-local batch ones unchanged —
    * stateless stages cost nothing to stream.
    *
    * StreamingOpsSpec pins the composition law: run AvailableNow over
    * a file source (all data within one horizon), the admitted text
    * set equals the batch pipeline's keep-first dedup stage. */
  def pretrainGate(
      docs: DataFrame, dedupHorizon: String = "1 hour"): DataFrame = {
    import graft.functions.TextFunctions
    docs
      .where(TextFunctions.qualityScore(col("text")) >= 0.5)
      .withColumn("plang", TextFunctions.langId(col("text")))
      .where(col("plang") =!= "und")
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("text")
      .withColumn("n_toks", TextFunctions.tokenCount(col("text")).cast("long"))
      .drop("ingest_ts")
  }

  /** Streaming benchmark-decontamination gate: count, for each
    * arriving doc, how many distinct `shingleN`-gram windows it shares
    * with a STATIC held-out benchmark set — the eval-leakage check
    * applied at ingest time instead of as a corpus-wide scrub.
    *
    * Completely STATELESS, like [[dsirGate]]: the benchmark's gram
    * set is small BY NATURE (benchmarks are thousands of docs, not
    * billions), so it collapses to a one-row broadcast array
    * (stream-static join) and the count is an in-row set
    * intersection over the doc's own shingle set — no watermark, no
    * state store, no shuffle. Every doc passes through with its
    * `n_shared_grams` (0 = clean); filter or route on it downstream.
    * For contaminated docs the count equals the batch
    * `text_decontaminate` aggregation exactly (both sides are
    * distinct-gram sets; pinned in StreamingOpsSpec). Works on batch
    * frames too — the plan is identical either way. */
  def decontaminateGate(
      docs: DataFrame, benchDocs: DataFrame,
      shingleN: Int = 8): DataFrame = {
    val grams = benchDocs
      .select(explode(
        graft.functions.ShingleSet(col("text"), shingleN)).as("gram"))
      .distinct()
      .agg(array_sort(collect_list(col("gram"))).as("bench_grams"))
    docs
      .crossJoin(broadcast(grams))
      .withColumn("n_shared_grams",
        coalesce(
          size(array_intersect(
            graft.functions.ShingleSet(col("text"), shingleN),
            col("bench_grams"))).cast("long"),
          lit(0L)))
      .drop("bench_grams")
  }

  /** Streaming DSIR admission gate: score each arriving doc against a
    * PRE-FIT dense log-ratio model ([[graft.operators.Dsir.logRatioModel]],
    * fit offline on a reference corpus) and admit docs whose
    * importance weight clears `minLogw` — "keep what looks like the
    * target distribution", applied at ingest time.
    *
    * Completely STATELESS: the nBuckets-row model collapses to a
    * one-row broadcast map (stream-static join), and the score is an
    * in-row exact-decimal fold over the doc's own n-grams — no
    * watermark, no state store, no shuffle. The admitted scores equal
    * the batch [[graft.operators.Dsir.scoreAgainst]] bit-for-bit
    * (decimal accumulation is associative-exact; pinned in DsirSpec's
    * stream==batch test). */
  def dsirGate(
      docs: DataFrame, model: DataFrame, nBuckets: Int,
      minLogw: Double): DataFrame = {
    docs
      .crossJoin(broadcast(Dsir.modelAsMap(model)))
      .withColumn("logw",
        Dsir.scoreInRow(col("text"), col("lrm"), nBuckets).cast("double"))
      .where(col("logw") >= minLogw)
      .drop("lrm")
  }

  /** Incremental DSIR model maintenance: fold each micro-batch of
    * docs into the dense (bucket, rc, tc) count state — the model's
    * additive sufficient statistic — and hand the refreshed lr model
    * to `sink` after every batch (feed it to [[dsirGate]] for
    * fit-continuously / serve-current-model). After any batch
    * sequence the model equals the one-shot batch fit over the union
    * EXACTLY (counts are integers; pinned in DsirSpec).
    *
    * SESSION-SCOPED: the count state lives in this JVM only. Do NOT
    * pass a durable checkpointLocation here expecting restart to work
    * — the resumed source would skip already-delivered batches while
    * the counts restart from zero, silently under-counting the model.
    * For a restartable fit use [[durableDsirModelStream]].
    *
    * 100 TB shape: per-batch work is one batch-sized scan collapsing
    * to nBuckets rows; the carried state IS those nBuckets rows —
    * fixed-size additive state, the same class as the streaming
    * CMS/Bloom sketches. */
  def dsirModelStream(
      docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      nBuckets: Int,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var state = Dsir.emptyStats(docs.sparkSession, nBuckets)
    foreachBatch(docs, options) { (batch, epoch) =>
      state = foldStats(state, batch, targetPred, nBuckets)
      sink(Dsir.lrFromStats(state, nBuckets), epoch)
    }
  }

  /** [[Dsir.updateStats]], releasing the superseded stats. */
  private def foldStats(stats: DataFrame, batch: DataFrame,
      targetPred: org.apache.spark.sql.Column, nBuckets: Int): DataFrame = {
    val next = Dsir.updateStats(stats, batch, targetPred, nBuckets)
    Storage.unpersistLocalCheckpoint(stats)
    next
  }

  /** Durable, restartable [[dsirModelStream]]: the dense stats are
    * committed per epoch under `stateDir` and the fold is idempotent
    * per epoch ([[durableStateStream]]), so counts never double and
    * the served model always equals the one-shot batch fit over every
    * doc ever delivered (pinned in DsirSpec's stop/restart test). */
  def durableDsirModelStream(
      docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      nBuckets: Int, stateDir: String,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    durableStateStream[DataFrame]("durableDsirModelStream", docs, stateDir, options)(
      _.fold(Dsir.emptyStats(docs.sparkSession, nBuckets))(read => read("stats")))(
      update = foldStats(_, _, targetPred, nBuckets),
      relations = stats => Map("stats" -> stats),
      sink = (stats, epoch) => sink(Dsir.lrFromStats(stats, nBuckets), epoch))

  // ---- streaming fuzzy dedup (MinHash-LSH over micro-batches) ----

  case class BandedDoc(band: Int, band_hash: Long, doc_id: Long,
      ts: Timestamp, sh: Array[Long])
  case class BucketEntry(docId: Long, tsMs: Long, sh: Array[Long])
  case class LshBucketState(entries: List[BucketEntry], saturated: Boolean)
  /** `partner` = the EARLIEST-admitted in-horizon bucket member whose
    * exact Jaccard verified ≥ threshold (None when !dup) — feed
    * (partner, doc_id) pairs into [[updateCc]] for online near-dup
    * document clustering at ingest (same composition as the embedding
    * gate, spec'd there). */
  case class LshVerdict(
      doc_id: Long, ts: Timestamp, dup: Boolean,
      partner: Option[Long] = None)

  /** Exact Jaccard of two sorted-distinct hash arrays (two-pointer). */
  private def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Streaming MinHash-LSH near-dup detection — the incremental form
    * of [[graft.operators.Dedup.minhashLsh]]. Emits one verdict row
    * per (doc, band): `dup = true` iff the bucket holds an earlier
    * (by event time, then doc_id) document within the dedup horizon
    * whose EXACT shingle-hash Jaccard is >= `threshold`. A document is
    * a near-duplicate iff ANY of its bands says so; since every
    * verdict for a doc is emitted in the micro-batch the doc arrives
    * in, that fold is batch-local ([[admittedFromVerdicts]]) — no
    * second stateful stage is needed after this one.
    *
    * Parity with the batch operator (pinned in StreamingOpsSpec):
    * signatures come from the same [[graft.functions.MinHashSignature]]
    * kernel, band keys from the same `xxhash64(slice(signature))`
    * formula, and verification is exact Jaccard — so on data arriving
    * within one horizon, drop-set == the batch pairs' later members.
    * (Batch verifies on shingle STRINGS; the stream stores 8-byte
    * xxhash64 shingle hashes — equal modulo 64-bit hash collisions.)
    * The batch skew cap carries over: once a bucket's population
    * within the horizon exceeds [[graft.operators.Dedup.MAX_BUCKET]]
    * (the batch form drops such boilerplate megabuckets entirely, so
    * they flag nothing), the streaming bucket turns SATURATED — every
    * later arrival is admitted un-compared, exactly like batch.
    * Verdicts already emitted before saturation was detected stand
    * (append-mode streams cannot retract); saturation expires with
    * its generation of entries when the watermark passes them.
    * The dup predicate is also pairwise-horizon-bounded
    * (`t - e.tsMs <= horizonMs`), so an entry the (one-batch-lagging)
    * watermark has not evicted yet can never flag a newcomer beyond
    * the stated horizon.
    *
    * 100 TB design: state is per-(band, band_hash) bucket, holding at
    * most [[graft.operators.Dedup.MAX_BUCKET]] entries (the batch skew
    * cap — a boilerplate megabucket stops ADMITTING state, it cannot
    * grow it), each entry evicted once the event-time watermark passes
    * its timestamp (EventTimeTimeout cleans idle buckets). So state is
    * O(buckets-touched-within-horizon × cap), not O(stream). The shuffle
    * carries each doc's hashed shingle set `bands` times — the price of
    * verifying in-bucket with zero joins; the batch form instead pays a
    * second candidate-pair join against the corpus, which has no
    * incremental analogue. Late data (ts behind the watermark) compares
    * against whatever state survives — same best-effort contract as
    * `dropDuplicatesWithinWatermark`. */
  def minhashLshVerdicts(
      spark: SparkSession,
      docs: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.5,
      horizonMs: Long = 60 * 60 * 1000L): Dataset[LshVerdict] = {
    import spark.implicits._
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rpb = numHashes / bands
    val sigs = docs
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("doc_id"), col("ts"),
        graft.functions.MinHashSignature(col("text"), shingleN, numHashes)
          .as("signature"),
        array_distinct(array_sort(transform(
          graft.functions.ShingleSet(col("text"), shingleN),
          s => xxhash64(s)))).as("sh"))
    // no shingles => no LSH candidates => trivially admitted (matches
    // the batch form, which drops null signatures before banding)
    val noSig = sigs.where(col("signature").isNull)
      .select(col("doc_id"), col("ts"), lit(false).as("dup"),
        lit(null).cast("long").as("partner")).as[LshVerdict]
    val banded = sigs.where(col("signature").isNotNull)
      .select(col("doc_id"), col("ts"), col("sh"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("signature"), b * rpb + 1, lit(rpb))))))
      .toDF("doc_id", "ts", "sh", "band", "band_hash")
      .as[BandedDoc]
    val cap = graft.operators.Dedup.MAX_BUCKET
    val verdicts = banded
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState[LshBucketState, LshVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            val wm = state.getCurrentWatermarkMs()
            val kept = state.get.entries.filter(_.tsMs >= wm)
            if (kept.isEmpty) state.remove()
            else {
              state.update(LshBucketState(kept, state.get.saturated))
              state.setTimeoutTimestamp(kept.map(_.tsMs).max + horizonMs)
            }
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.tsMs >= wm)
            // saturation expires with its generation of entries: once
            // the watermark evicts the whole horizon-window population,
            // the bucket starts a fresh census
            var saturated = state.getOption.exists(_.saturated) && entries.nonEmpty
            val out = List.newBuilder[LshVerdict]
            // deterministic arrival order inside the micro-batch
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              val t = r.ts.getTime
              // the (cap+1)-th member within a horizon makes this the
              // megabucket the batch form drops whole — stop flagging
              if (!saturated && entries.size >= cap) saturated = true
              val partner =
                if (saturated) None
                else entries.find(e =>
                  (e.tsMs < t || (e.tsMs == t && e.docId < r.doc_id)) &&
                    t - e.tsMs <= horizonMs &&
                    jaccardSorted(e.sh, r.sh) >= threshold).map(_.docId)
              out += LshVerdict(r.doc_id, r.ts, partner.isDefined, partner)
              if (!saturated)
                entries = entries :+ BucketEntry(r.doc_id, t, r.sh)
            }
            if (entries.isEmpty) state.remove()
            else {
              state.update(LshBucketState(entries, saturated))
              state.setTimeoutTimestamp(entries.map(_.tsMs).max + horizonMs)
            }
            out.result().iterator
          }
      }
    verdicts.union(noSig)
  }

  /** Batch-local admission fold over a micro-batch of
    * [[minhashLshVerdicts]] output: a doc is admitted iff NO band
    * flagged it. Valid inside `foreachBatch` because every verdict for
    * a doc lands in the micro-batch the doc arrived in — this is a
    * per-batch groupBy, not a cross-batch stateful stage. */
  def admittedFromVerdicts(verdictBatch: DataFrame): DataFrame =
    verdictBatch.groupBy("doc_id")
      .agg(min("ts").as("ts"), max(col("dup").cast("int")).as("d"))
      .where(col("d") === 0)
      .drop("d")

  /** [[admittedFromVerdicts]] for the embedding gate: a vector is
    * admitted iff NO band flagged it. Same batch-local validity
    * argument — every [[cosineLshVerdicts]] verdict for a vector
    * lands in its arrival micro-batch. */
  def admittedFromCosVerdicts(verdictBatch: DataFrame): DataFrame =
    verdictBatch.groupBy("vec_id")
      .agg(min("ts").as("ts"), max(col("dup").cast("int")).as("d"))
      .where(col("d") === 0)
      .drop("d")

  /** Start a stream that hands each micro-batch to `f` with its epoch
    * id: append mode, `options` passed to the writer as given (a
    * durable `checkpointLocation` for restartable offsets, a
    * `queryName`). Every stream this object starts goes through here.
    *
    * Serving a durable index tier is this driver plus the tier's own
    * batch plan. `foreachBatch` is the honest composition: per-query
    * top-k and per-document screening are state-free across batches,
    * so the batch plan per micro-batch is exact (streamed output ==
    * the batch serve or probe restricted per batch, pinned in
    * StreamingOpsSpec), where a streaming window/rank would be
    * rejected by the planner in append mode. Two snapshot contracts:
    *  - FIXED SNAPSHOT (the ANN tiers): resolve the base∪deltas
    *    snapshot and trained state once, before the stream starts
    *    (`readAll`, `openAll`, `IvfIndex.centroids`), and call the
    *    tier's `serveSnapshot` (IVF: `Similarity.ivfServe`) per
    *    batch. One consistent view for the stream's lifetime; restart
    *    to pick up later epochs. LIFETIME BOUND: an ingest loop
    *    compacting with `retainGens = 1` keeps that view's files alive
    *    for exactly ONE further compaction cycle; after the second,
    *    gc retires them and the stream's batches fail loudly
    *    (FileNotFoundException) rather than serve partial results. A
    *    server that must outlive compaction cycles restarts within
    *    each cycle, runs its ingest with a larger `retainGens`, or
    *    screens per batch.
    *  - PER-BATCH SCREENING (the probes): call `probeNew`,
    *    `probePairs`, `probeShard` or `probeSemantic` per batch. Each
    *    resolves the snapshot per batch (driver listings only), so
    *    every batch sees the freshest committed state while one
    *    ingest writer appends, and marker-last commits mean it never
    *    sees a torn segment. Read-only, so any number run beside the
    *    writer. The pair probes return an eagerly materialized pin:
    *    hand it to the sink inside `Storage.releasing`. */
  def foreachBatch(input: DataFrame, options: Map[String, String] = Map.empty)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) => f(batch.toDF(), epoch) }
      .start()

  /** The full ADMISSION LOOP as a durable stream — the production
    * composition of the dedup-index surface: each micro-batch of
    * documents (doc_id, text) is probed against the loop's persisted
    * content-hash and MinHash indexes — plus the perceptual
    * [[graft.operators.HammingIndex]] when the loop was initialized
    * with `perceptual = true` (batches then carry c0..c3 signature
    * columns) and the semantic store when initialized with centroids
    * (batches then carry `embedding`) — the survivors admitted under
    * [[graft.operators.Admission]]'s deterministic policy, and the
    * admitted docs appended back into EVERY index store — so later batches
    * dedup against everything admitted so far, across restarts.
    * Every step is marker-guarded and idempotent (the admitted store
    * is the write-ahead decision log: replayed epochs re-read the
    * committed decision rather than re-deciding against indexes that
    * already contain their own docs), so a kill at ANY point resumes
    * exactly-once. `Admission.init(path)` must have run. Same lineage
    * guard as every ingest stream. `onBatch` receives (epoch, the
    * admitted docs of that epoch). */
  def admissionIngestStream(
      documents: DataFrame,
      path: String,
      threshold: Double = 0.5,
      // cosine threshold of the optional semantic stage — used only
      // when the loop was initialized with semanticCentroids (the
      // fourth store exists); batches must then carry an `embedding`
      // column
      semanticThreshold: Double = 0.95,
      options: Map[String, String] = Map.empty,
      // > 0: fold every store whenever this many committed
      // epochs are unfolded in the admitted store — same in-loop
      // maintenance policy (and same safety argument) as
      // ingestStream's compactEvery
      compactEvery: Int = 0,
      // generations the triggered gc retains per store; 1 (default)
      // keeps one superseded snapshot alive for concurrent readers
      retainGens: Int = 1)(
      onBatch: (Long, DataFrame) => Unit = (_, _) => ()): StreamingQuery = {
    val spark = documents.sparkSession
    requireDurableLineage(spark, "admissionIngestStream",
      graft.operators.Admission.committedEpochs(spark, path).lastOption,
      path, options)
    foreachBatch(documents, options) { (batch, epoch) =>
      onBatch(epoch, graft.operators.Admission.admitEpoch(
        spark, path, epoch, batch, threshold, semanticThreshold))
      // admitEpoch returned, so every store has committed this epoch
      maintainEvery(spark, compactEvery, s"$path/admitted",
        graft.operators.Admission.committedEpochs(spark, path))(
        graft.operators.Admission.compact(spark, path, retainGens = retainGens))
    }
  }

  /** [[admissionIngestStream]]'s ENTITY-RESOLUTION sibling — the
    * durable fuzzy master-data ingest run as a stream: each
    * micro-batch of records (id, name, block) is one
    * [[graft.operators.RecordAdmission.admitEpoch]] epoch (register
    * screen → in-shard dominance → WAL-logged decision → register
    * append), exactly-once under replay at every crash point (the
    * decision log commits first; the register append is
    * marker-guarded). Same lineage fail-fast and same in-loop
    * maintenance policy as the document loop. */
  def recordAdmissionIngestStream(
      records: DataFrame,
      path: String,
      maxDist: Int = 1,
      maxPairsPerBlock: Long = 100000000L,
      options: Map[String, String] = Map.empty,
      compactEvery: Int = 0,
      retainGens: Int = 1)(
      onBatch: (Long, DataFrame) => Unit = (_, _) => ()): StreamingQuery = {
    val spark = records.sparkSession
    requireDurableLineage(spark, "recordAdmissionIngestStream",
      graft.operators.RecordAdmission.committedEpochs(spark, path).lastOption,
      path, options)
    foreachBatch(records, options) { (batch, epoch) =>
      onBatch(epoch, graft.operators.RecordAdmission.admitEpoch(
        spark, path, epoch, batch, maxDist, maxPairsPerBlock))
      // admitEpoch returned, so both stores have committed this epoch
      maintainEvery(spark, compactEvery, s"$path/admitted",
        graft.operators.RecordAdmission.committedEpochs(spark, path))(
        graft.operators.RecordAdmission.compact(spark, path, retainGens = retainGens))
    }
  }

  /** Streaming INGEST into any persisted index tier — the exactly-once
    * recipe of a replayable source plus an idempotent, marker-guarded
    * sink: each micro-batch is encoded against the index's FIXED
    * trained state and committed as one delta segment
    * ([[graft.operators.SegmentedIndex.appendEpoch]] — replayed epochs
    * are skipped, torn segments overwritten), so the tier's serving
    * plans pick the new rows up immediately with no retrain.
    * `onBatch` receives (epoch, whether this run committed it).
    *
    * Maintenance: with `compactEvery = 0` (default) deltas accrete
    * until an offline `compact`; a LONG-RUNNING ingest should pass
    * `compactEvery = N` so the loop folds deltas into a new base
    * generation whenever ≥ N unfolded epochs have committed —
    * otherwise read cost grows linearly in epochs. The in-loop gc
    * retains `retainGens` superseded generations (1 by default), so
    * any reader that resolved its snapshot since the previous
    * compaction keeps reading consistently for a full further cycle
    * while the stream compacts under it; a long-lived serve stream
    * needs `retainGens` sized to its lifetime in compaction cycles
    * (the LIFETIME BOUND in [[foreachBatch]]). The maintenance
    * runs inside the single ingest writer, between appends — exactly
    * the window the [[graft.operators.LsmSegments]] single-writer
    * contract carves out for it; a replayed epoch never triggers it
    * (nothing new committed). Driver-side metadata only — the check
    * is two directory listings per batch.
    *
    * Lineage pairing: the index's epoch markers are only meaningful
    * relative to ONE streaming checkpoint lineage (epoch ids restart
    * at 0 for a fresh/temporary checkpoint, so a new lineage against
    * an already-ingested index would collide with old markers and
    * SILENTLY skip its first batches). Resuming an index therefore
    * requires the original `checkpointLocation`; starting without one,
    * or with one whose offset log has not reached the index's latest
    * epoch, fails fast instead of dropping data. */
  def ingestStream(
      index: graft.operators.SegmentedIndex,
      input: DataFrame,
      indexPath: String,
      options: Map[String, String] = Map.empty,
      compactEvery: Int = 0,
      retainGens: Int = 1)(
      onBatch: (Long, Boolean) => Unit = (_, _) => ()): StreamingQuery = {
    val spark = input.sparkSession
    requireDurableLineage(spark,
      s"ingestStream(${index.getClass.getSimpleName.stripSuffix("$")})",
      index.committedEpochs(spark, indexPath).lastOption, indexPath, options)
    foreachBatch(input, options) { (batch, epoch) =>
      val appended = index.appendEpoch(spark, indexPath, epoch, batch)
      if (appended)
        maintainEvery(spark, compactEvery, indexPath,
          index.committedEpochs(spark, indexPath)) {
          index.compact(spark, indexPath)
          index.gc(spark, indexPath, retainGens = retainGens)
        }
      onBatch(epoch, appended)
    }
  }

  /** The pretrain gate with FUZZY dedup: the stateless quality and
    * language gates of [[pretrainGate]], then streaming MinHash-LSH
    * instead of exact-hash dedup — near-duplicate crawl records within
    * the horizon are flagged, not just byte-identical ones. Emits
    * verdicts; compose with [[admittedFromVerdicts]] in `foreachBatch`
    * to materialize the admitted corpus. */
  def pretrainGateFuzzy(
      spark: SparkSession,
      docs: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.5,
      horizonMs: Long = 60 * 60 * 1000L): Dataset[LshVerdict] = {
    import graft.functions.TextFunctions
    minhashLshVerdicts(
      spark,
      docs
        .where(TextFunctions.qualityScore(col("text")) >= 0.5)
        .where(TextFunctions.langId(col("text")) =!= "und"),
      shingleN, numHashes, bands, threshold, horizonMs)
  }

  // ---- streaming embedding near-dup (cosine LSH, bounded state) ----

  case class CosBandedVec(
      vec_id: Long, ts: Timestamp, v: Seq[Float], band: Int, band_sig: Long,
      block: Long)
  case class CosBucketEntry(vecId: Long, tsMs: Long, v: Seq[Float])
  case class CosBucketState(entries: List[CosBucketEntry], saturated: Boolean)
  /** `partner` = the EARLIEST-admitted in-horizon bucket member that
    * verified ≥ threshold (None when !dup) — the edge an online
    * clustering step needs: (partner, vec_id) pairs fed into
    * [[updateCc]] maintain near-dup cluster ids at ingest time. */
  case class CosVerdict(
      vec_id: Long, ts: Timestamp, dup: Boolean, partner: Option[Long])

  /** Exact-cosine verify over float32 vectors — the same
    * double-accumulation loop as the codegen'd
    * [[graft.functions.CosineSimilarity]] expression, so streaming
    * verdicts agree with the batch operator's threshold decisions. */
  private def cosineSeq(a: Seq[Float], b: Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Streaming embedding-cosine near-dup: the streaming counterpart of
    * [[graft.operators.Similarity.cosineNearDup]], under the same
    * contracts as [[minhashLshVerdicts]]. Vectors (vec_id, ts,
    * embedding[, label]) band through the IDENTICAL seeded hyperplane
    * kernel as the batch operator ([[graft.functions.VectorFunctions
    * .hyperplaneBandSignatures]], seed 42 — buckets are comparable
    * across the two forms); per bucket the newcomer is
    * exact-cosine-verified against admitted predecessors within the
    * event-time horizon. The batch operator blocks buckets per
    * `label`; this form honors the same blocking when the input
    * carries a `label` column (bucket key = (label, band, band_sig) —
    * cross-label near-identicals are never paired, matching
    * SimilaritySpec's batch pin) and degrades to a single corpus-wide
    * block when it doesn't. Batch-skew-cap semantics carry over: a bucket
    * reaching `maxBucket` members within a horizon saturates and stops
    * flagging (the batch form drops such buckets whole); saturation
    * expires with its generation of entries. The pairwise
    * `t - e.tsMs <= horizonMs` bound keeps not-yet-evicted laggards
    * from flagging on-time vectors. State per bucket is ≤ cap vectors
    * within the horizon — watermark-bounded, never O(stream). */
  def cosineLshVerdicts(
      spark: SparkSession,
      vectors: DataFrame,
      threshold: Double = 0.35,
      planesPerBand: Int = 4,
      bands: Int = 64,
      maxBucket: Int = 4096,
      horizonMs: Long = 60 * 60 * 1000L): Dataset[CosVerdict] = {
    import spark.implicits._
    // type-agnostic blocking key: the batch operator groups buckets on
    // the RAW label of whatever type, so a string/date/null label must
    // block here too (a bare cast("long") turned those into null and
    // the non-nullable CosBandedVec.block field NPE'd at encode time).
    // Distinct-prefix encoding keeps null its own block, disjoint from
    // every value's — equal to batch grouping modulo 64-bit xxhash64
    // collisions (the same caveat the minhash band keys carry).
    val blockCol =
      if (vectors.columns.contains("label"))
        xxhash64(when(col("label").isNull, lit("null:"))
          .otherwise(concat(lit("val:"), col("label").cast("string"))))
      else lit(0L)
    val banded = vectors
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("vec_id"), col("ts"), col("embedding"), blockCol.as("block"),
        posexplode(graft.functions.VectorFunctions.hyperplaneBandSignatures(
          col("embedding"), planesPerBand, bands)))
      .toDF("vec_id", "ts", "v", "block", "band", "band_sig")
      .as[CosBandedVec]
    banded
      .groupByKey(r => (r.block, r.band, r.band_sig))
      .flatMapGroupsWithState[CosBucketState, CosVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            val wm = state.getCurrentWatermarkMs()
            val kept = state.get.entries.filter(_.tsMs >= wm)
            if (kept.isEmpty) state.remove()
            else {
              state.update(CosBucketState(kept, state.get.saturated))
              state.setTimeoutTimestamp(kept.map(_.tsMs).max + horizonMs)
            }
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.tsMs >= wm)
            var saturated = state.getOption.exists(_.saturated) && entries.nonEmpty
            val out = List.newBuilder[CosVerdict]
            rows.toSeq.sortBy(r => (r.ts.getTime, r.vec_id)).foreach { r =>
              val t = r.ts.getTime
              if (!saturated && entries.size >= maxBucket) saturated = true
              val partner =
                if (saturated) None
                else entries.find(e =>
                  (e.tsMs < t || (e.tsMs == t && e.vecId < r.vec_id)) &&
                    t - e.tsMs <= horizonMs &&
                    cosineSeq(e.v, r.v) >= threshold).map(_.vecId)
              out += CosVerdict(r.vec_id, r.ts, partner.isDefined, partner)
              if (!saturated)
                entries = entries :+ CosBucketEntry(r.vec_id, t, r.v)
            }
            if (entries.isEmpty) state.remove()
            else {
              state.update(CosBucketState(entries, saturated))
              state.setTimeoutTimestamp(entries.map(_.tsMs).max + horizonMs)
            }
            out.result().iterator
          }
      }
  }

  case class KeyedValue(key: Long, value: Double)
  case class RunningMax(key: Long, max: Double)

  /** Spark 4 `transformWithState` processor (the arbitrary-stateful
    * successor of flatMapGroupsWithState): per-key running maximum in
    * a typed [[org.apache.spark.sql.streaming.ValueState]]. The API is
    * RocksDB-only by design (its state layout needs column families),
    * which is also the right provider for 100 TB streaming state. */
  class RunningMaxProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedValue, RunningMax] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Double]("max",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KeyedValue],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RunningMax] = {
      var mx = if (state.exists()) state.get() else Double.NegativeInfinity
      rows.foreach(r => mx = math.max(mx, r.value))
      state.update(mx)
      Iterator.single(RunningMax(key, mx))
    }
  }

  /** Per-key running max via `transformWithState`, emitted in update
    * mode on every change. Run under the RocksDB state store provider
    * (see StreamingOpsSpec). */
  def runningMax(spark: SparkSession, ds: Dataset[KeyedValue]): Dataset[RunningMax] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new RunningMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming graph maintenance (incremental triangle counts) ----

  /** Maintained graph state between micro-batches: the symmetric
    * sorted adjacency (node, nbrs: array<long>) and the per-node
    * triangle counts — both localCheckpoint'ed, superseded generations
    * released per batch ([[graft.operators.Storage]] protocol).
    * Session-lived: a restart rebuilds from the replayed source;
    * [[durableTriangleMaintenanceStream]] commits both relations per
    * epoch instead. */
  final class TriangleState private[streaming] (
      private[streaming] var adj: DataFrame,
      private[streaming] var counts: DataFrame) {
    /** Current per-node triangle counts (node_id, n_triangles) —
      * exactly [[graft.operators.Graph.triangleCounts]] of every
      * distinct edge ingested so far. */
    def snapshot: DataFrame = counts

    /** Current per-node degrees (node_id, degree) — maintained for
      * free as the size of each adjacency list (the list is a SET of
      * distinct neighbors, so this is the simple-graph degree over
      * every distinct edge ingested). */
    def degreeSnapshot: DataFrame = adj.select(
      col("node").as("node_id"), size(col("nbrs")).cast("long").as("degree"))

    /** Release the state's cached blocks (callers done maintaining —
      * e.g. a batch replay that keeps only a derived result). */
    def release(): Unit = {
      Storage.unpersistLocalCheckpoint(adj)
      Storage.unpersistLocalCheckpoint(counts)
    }
  }

  def emptyTriangleState(spark: SparkSession): TriangleState = {
    import spark.implicits._
    new TriangleState(
      Seq.empty[(Long, Seq[Long])].toDF("node", "nbrs").localCheckpoint(true),
      Seq.empty[(Long, Long)].toDF("node_id", "n_triangles")
        .localCheckpoint(true))
  }

  /** One incremental maintenance step: ingest a micro-batch of edges
    * (src, dst) into the state, updating per-node triangle counts
    * EXACTLY — the invariant (pinned in StreamingOpsSpec) is that
    * after any batch sequence the snapshot equals the batch
    * [[graft.operators.Graph.triangleCounts]] over the distinct
    * canonical union of every edge seen.
    *
    * The delta decomposition (standard incremental triangle counting,
    * e.g. Ediger et al. 2010): a new triangle contains 1, 2, or 3
    * edges of this batch's genuinely-new edge set Δ, and each case is
    * counted exactly once by its own relational term —
    *  1-new: Δ edge (a,b) closed by two OLD edges — the trianglePlan
    *    closure of Δ against the old adjacency (SortedIntersect);
    *  2-new: wedge of two Δ edges at center c closed by an OLD edge
    *    (u,v) — in-row pair expansion of the Δ adjacency, one
    *    membership probe against old nbrs (the wedge's center is
    *    unique, so no double count);
    *  3-new: Δ∩Δ common neighbors of each Δ edge (a,b) restricted to
    *    w > b — all-new triangles {a<b<w} counted exactly once, at
    *    their smallest edge (the batch operator's orientation
    *    argument), fused into the SAME closure pipeline as 1-new.
    * Δ excludes edges already present, so "old" and "Δ" are disjoint
    * and the three terms partition the new triangles by construction.
    *
    * 100 TB shape: every term is sized by the MICRO-BATCH (Δ edges,
    * their wedges, and |Δ|-proportional probes of the adjacency), not
    * the accumulated graph; the adjacency update regroups only the
    * TOUCHED nodes (semi/anti-join on the Δ node set) — the state
    * rewrite a partitioned upsert sink would make in place. */
  def updateTriangles(state: TriangleState, batch: DataFrame): TriangleState = {
    // canonical distinct new edges: a < b, non-null, not already in
    // the adjacency (re-sent duplicates are no-ops)
    val cand = batch
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .distinct()
    val adjA = state.adj.select(col("node").as("a_"), col("nbrs").as("na"))
    Storage.releasing(cand
      .join(adjA, col("a") === col("a_"), "left")
      .where(col("na").isNull || !array_contains(col("na"), col("b")))
      .select(col("a"), col("b"))
      .localCheckpoint(true)) { fresh =>
      // the Δ adjacency serves BOTH the 2-new wedge expansion and the
      // 3-new oriented closure — checkpointed once (tiny: |Δ| nodes)
      // so neither branch regroups it (plan branches share nothing)
      val newCounts = Storage.releasing(fresh
        .select(explode(array(
          struct(col("a").as("node"), col("b").as("nbr")),
          struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
        .groupBy(col("e.node").as("c"))
        .agg(sort_array(collect_list(col("e.nbr"))).as("dn"))
        .localCheckpoint(true)) { dAdj =>
        state.counts
          .join(triangleDeltaPlan(fresh, state.adj, dAdj), Seq("node_id"), "full")
          .select(col("node_id"),
            (coalesce(col("n_triangles"), lit(0L)) +
              coalesce(col("dc"), lit(0L))).as("n_triangles"))
          .localCheckpoint(true)
      }
      // adjacency upsert: regroup only the touched nodes
      val touched = fresh.select(col("a").as("node"))
        .union(fresh.select(col("b").as("node"))).distinct()
      val updAdj = state.adj
        .join(touched, Seq("node"), "semi")
        .select(col("node"), explode(col("nbrs")).as("nbr"))
        .union(fresh.select(explode(array(
          struct(col("a").as("node"), col("b").as("nbr")),
          struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
          .select(col("e.node"), col("e.nbr")))
        .groupBy(col("node"))
        .agg(sort_array(collect_set(col("nbr"))).as("nbrs"))
      val newAdj = state.adj
        .join(touched, Seq("node"), "anti")
        .unionByName(updAdj)
        .localCheckpoint(true)
      Storage.unpersistLocalCheckpoint(state.adj)
      Storage.unpersistLocalCheckpoint(state.counts)
      state.adj = newAdj
      state.counts = newCounts
      state
    }
  }

  /** Streaming graph maintenance: ingest an edge stream (src, dst) via
    * `foreachBatch`, maintaining exact per-node triangle counts across
    * micro-batches with [[updateTriangles]]; `sink` receives the
    * updated snapshot and epoch id after every batch. */
  def triangleMaintenanceStream(
      edges: DataFrame,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val state = emptyTriangleState(edges.sparkSession)
    foreachBatch(edges, options) { (batch, epoch) =>
      sink(updateTriangles(state, batch).snapshot, epoch)
    }
  }

  /** The in-loop maintenance rule of [[ingestStream]] and the two
    * admission streams: with `compactEvery > 0`, run `fold` once
    * `compactEvery` of the `committed` epochs lie past the generation
    * marker at `genPath` (the epochs not yet folded into its base).
    * Callers run it between appends, after the batch's every store has
    * committed: the window the [[graft.operators.LsmSegments]]
    * single-writer contract carves out for maintenance. Two directory
    * listings, no data read. */
  private def maintainEvery(spark: SparkSession, compactEvery: Int,
      genPath: String, committed: => Seq[Long])(fold: => Unit): Unit =
    if (compactEvery > 0) {
      val (_, upto) = LsmSegments.current(spark, genPath)
      if (committed.count(_ > upto) >= compactEvery) fold
    }

  /** Lineage pairing for every durable stream (ingest, admission and
    * maintenance): epoch ids are only meaningful relative to ONE
    * streaming checkpoint lineage. An absent or fresh
    * checkpointLocation restarts them at 0, so its ids would match the
    * store's old commit markers and its first batches would be
    * silently skipped (or folded against mismatched batch
    * boundaries) — fail fast instead. A store holding committed
    * epochs therefore needs a checkpoint whose offset log
    * (`<checkpointLocation>/offsets/<batchId>`, one driver-side
    * listing) has reached the store's latest epoch. */
  private def requireDurableLineage(
      spark: SparkSession, name: String, resumedEpoch: Option[Long],
      stateDir: String, options: Map[String, String]): Unit =
    resumedEpoch.foreach { latest =>
      val chk = options.get("checkpointLocation")
      val lastLogged = chk.flatMap { c =>
        val offsets = new org.apache.hadoop.fs.Path(c, "offsets")
        val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(offsets)) None
        else fs.listStatus(offsets).toSeq.map(_.getPath.getName)
          .filter(_.forall(_.isDigit)).map(_.toLong).maxOption
      }
      require(lastLogged.exists(_ >= latest),
        s"$name: state at $stateDir already holds committed epochs up to " +
          s"$latest from a previous stream, but this query's " +
          s"checkpointLocation (${chk.getOrElse("none")}) has logged " +
          s"${lastLogged.fold("no batch")(b => s"batches only up to $b")}: " +
          "its epoch ids restart below that, so its first batches would " +
          "collide with those markers and be silently skipped. Pass the " +
          "original checkpointLocation to resume that lineage, or use a " +
          "fresh stateDir.")
    }

  /** The shared body of the four durable maintenance streams. The
    * state lives in an [[graft.operators.LsmSegments]] store at
    * `stateDir` whose every committed delta is a full snapshot of the
    * state's named relations, `deltas/<epoch>/<name>`:
    *  - start: after [[requireDurableLineage]], `open` builds the
    *    state, from a reader of the latest committed epoch's relations
    *    (each read under the schema it was written with, and
    *    checkpointed) or from scratch (`None`);
    *  - per batch: `update` and the write of its `relations` run
    *    inside `LsmSegments.appendEpoch`, so a replayed epoch (its
    *    batch re-delivered after the stream lost its commit) finds its
    *    marker and is not re-applied, and a torn write is overwritten
    *    by the replay;
    *  - after each commit the older epochs' data is deleted, their
    *    markers kept as the replay guard, so the store holds one
    *    committed snapshot plus the one being written.
    * `sink` sees the state after every batch, replays included. With
    * the stream's own `checkpointLocation` (a replayable source) this
    * is exactly-once maintenance.
    *
    * 100 TB shape: a snapshot is plain parquet writes of the state
    * relations (executor-parallel); the driver touches only marker
    * and directory listings. */
  private def durableStateStream[S](
      name: String, input: DataFrame, stateDir: String,
      options: Map[String, String])(
      open: Option[String => DataFrame] => S)(
      update: (S, DataFrame) => S,
      relations: S => Map[String, DataFrame],
      sink: (S, Long) => Unit): StreamingQuery = {
    val spark = input.sparkSession
    val latest = LsmSegments.committedEpochs(spark, stateDir).lastOption
    requireDurableLineage(spark, name, latest, stateDir, options)
    var state = open(latest.map(e => relation =>
      LsmSegments.readArtifacts(spark, Seq(s"$stateDir/deltas/$e/$relation"))
        .localCheckpoint(true)))
    foreachBatch(input, options) { (batch, epoch) =>
      val committed = LsmSegments.appendEpoch(spark, stateDir, epoch) { dir =>
        state = update(state, batch)
        relations(state).foreach { case (relation, df) =>
          LsmSegments.writeArtifact(df, s"$dir/$relation")
        }
      }
      if (committed) LsmSegments.retireDeltasBelow(spark, stateDir, epoch)
      sink(state, epoch)
    }
  }

  /** Pure delta-counts plan for one [[updateTriangles]] step —
    * factored out so PLAN_DIGEST can publish the inner tree (the
    * checkpointed state hides it from the top-level digest) and so
    * the one-pipeline shape is pinnable. Inputs: `fresh` = the
    * batch's genuinely-new canonical edges (a < b), `adj` = the OLD
    * symmetric sorted adjacency (node, nbrs), `dAdj` = the Δ
    * adjacency (c, dn) built from `fresh` alone (checkpointed by the
    * caller — both consumers below reference it, and plan branches
    * share nothing).
    *
    * 1-new and 3-new run in ONE closure pipeline over the Δ edges:
    *  - ws_old = old∩old common nbrs (Δ edge closed by two old
    *    edges; every common nbr is a distinct triangle);
    *  - ws_new = Δ∩Δ common nbrs RESTRICTED to w > b — all-new
    *    triangles {a<b<w} counted exactly once, at their smallest
    *    edge (the batch operator's orientation argument, replacing a
    *    separate triangleCounts(Δ) call and its whole
    *    adjacency-build/persist/checkpoint job train).
    * 2-new expands wedges of two Δ edges in-row from dAdj and probes
    * the old adjacency for the closing edge. */
  private[graft] def triangleDeltaPlan(
      fresh: DataFrame, adj: DataFrame, dAdj: DataFrame): DataFrame = {
    val emptyNbrs = lit(Array.empty[Long])
    val adjA = adj.select(col("node").as("a_"), col("nbrs").as("na"))
    val adjB = adj.select(col("node").as("b_"), col("nbrs").as("nb"))
    val dA = dAdj.select(col("c").as("da_"), col("dn").as("dna"))
    val dB = dAdj.select(col("c").as("db_"), col("dn").as("dnb"))
    val t13 = fresh
      .join(adjA, col("a") === col("a_"), "left")
      .join(adjB, col("b") === col("b_"), "left")
      .join(dA, col("a") === col("da_"))
      .join(dB, col("b") === col("db_"))
      .select(col("a"), col("b"),
        graft.functions.SortedIntersect(
          coalesce(col("na"), emptyNbrs),
          coalesce(col("nb"), emptyNbrs)).as("ws_old"),
        filter(graft.functions.SortedIntersect(col("dna"), col("dnb")),
          w => w > col("b")).as("ws_new"))
      .where(size(col("ws_old")) > 0 || size(col("ws_new")) > 0)
      .select(explode(concat(
        array(
          struct(col("a").as("node_id"),
            (size(col("ws_old")) + size(col("ws_new"))).cast("long").as("c")),
          struct(col("b").as("node_id"),
            (size(col("ws_old")) + size(col("ws_new"))).cast("long").as("c"))),
        transform(col("ws_old"),
          w => struct(w.as("node_id"), lit(1L).as("c"))),
        transform(col("ws_new"),
          w => struct(w.as("node_id"), lit(1L).as("c"))))).as("e"))
      .select(col("e.node_id").as("node_id"), col("e.c").as("c"))
    // 2-new: two Δ edges wedged at c, closed by an old edge (u,v)
    val t2 = dAdj
      .where(size(col("dn")) >= 2)
      // dn is sorted-distinct, so (i+2)-suffix pairing yields u < v
      .select(col("c"), explode(flatten(transform(col("dn"), (u, i) =>
        transform(slice(col("dn"), i + lit(2), size(col("dn"))),
          v => struct(u.as("u"), v.as("v")))))).as("p"))
      .select(col("c"), col("p.u").as("u"), col("p.v").as("v"))
      .join(adjA, col("u") === col("a_"))
      .where(array_contains(col("na"), col("v")))
      .select(explode(array(
        struct(col("c").as("node_id"), lit(1L).as("c")),
        struct(col("u").as("node_id"), lit(1L).as("c")),
        struct(col("v").as("node_id"), lit(1L).as("c")))).as("e"))
      .select(col("e.node_id").as("node_id"), col("e.c").as("c"))
    t13.unionByName(t2)
      .groupBy(col("node_id"))
      .agg(sum(col("c")).as("dc"))
  }

  /** Durable, restartable [[triangleMaintenanceStream]]: the
    * adjacency and the counts are committed per epoch under
    * `stateDir` and the update is idempotent per epoch
    * ([[durableStateStream]]) — a batch replayed after a crash is NOT
    * re-applied, so counts never double. Restart resumes from the
    * latest committed epoch; pass the stream's own `checkpointLocation`
    * in `options` to make the source offsets replayable too. */
  def durableTriangleMaintenanceStream(
      edges: DataFrame,
      stateDir: String,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    durableStateStream[TriangleState](
      "durableTriangleMaintenanceStream", edges, stateDir, options)(
      _.fold(emptyTriangleState(edges.sparkSession))(read =>
        new TriangleState(read("adj"), read("counts"))))(
      update = updateTriangles,
      relations = st => Map("adj" -> st.adj, "counts" -> st.counts),
      sink = (st, epoch) => sink(st.snapshot, epoch))

  // ---- streaming graph maintenance (incremental connected components) ----

  /** Maintained label state between micro-batches: one row per node
    * seen so far, labeled with the MINIMUM node id of its component —
    * exactly the [[graft.operators.Dedup.connectedComponents]]
    * assignment over every edge ingested. localCheckpoint'ed;
    * superseded generations released per batch. */
  final class CcState private[streaming] (
      private[streaming] var labels: DataFrame) {
    /** Current (node_id, cluster_id) snapshot. */
    def snapshot: DataFrame = labels

    /** Release the state's cached blocks. */
    def release(): Unit =
      Storage.unpersistLocalCheckpoint(labels)
  }

  def emptyCcState(spark: SparkSession): CcState = {
    import spark.implicits._
    new CcState(
      Seq.empty[(Long, Long)].toDF("node_id", "cluster_id")
        .localCheckpoint(true))
  }

  /** One incremental maintenance step: ingest a micro-batch of edges
    * (src, dst), updating component labels EXACTLY — the invariant
    * (pinned in StreamingOpsSpec) is that after any batch sequence the
    * snapshot equals the batch [[graft.operators.Dedup.connectedComponents]]
    * over the distinct canonical union of every edge seen.
    *
    * A new edge can only MERGE components (and introduce new nodes),
    * never split them, so the delta computation runs entirely on the
    * micro-batch-sized merge graph: map each Δ endpoint to its current
    * label (new nodes label themselves), keep the label pairs that
    * differ, and run the batch CC operator over THOSE pairs alone.
    * Because every existing label is already the minimum of its old
    * component, the minimum over a merged group of labels is the
    * global minimum of the merged component — so the tiny mapping
    * (old_label → new_label) is exact.
    *
    * 100 TB shape: the merge graph and its CC run are sized by the
    * micro-batch, not the accumulated graph. Applying the mapping is
    * one BROADCAST left-join over the label state — no shuffle, state
    * partitioning preserved; only rows whose component actually merged
    * change (a partitioned upsert sink would rewrite just those), and
    * brand-new nodes append. The one Δ-endpoint lookup against the
    * state is a hash join keyed on node_id, the state's layout. */
  def updateCc(state: CcState, batch: DataFrame): CcState = {
    val cand = batch
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .distinct()
    val la = state.labels.select(col("node_id").as("a_"), col("cluster_id").as("ca_"))
    val lb = state.labels.select(col("node_id").as("b_"), col("cluster_id").as("cb_"))
    // Δ endpoints resolved to current labels; new nodes label themselves
    Storage.releasing(cand
      .join(la, col("a") === col("a_"), "left")
      .join(lb, col("b") === col("b_"), "left")
      .select(col("a"), col("b"),
        coalesce(col("ca_"), col("a")).as("ca"),
        coalesce(col("cb_"), col("b")).as("cb"))
      .localCheckpoint(true)) { resolved =>
      // merge graph over labels: micro-batch-sized, driver-coordinated
      // CC is fine here (the budget covers the batch's merge diameter)
      val mergePairs = resolved
        .where(col("ca") =!= col("cb"))
        .select(col("ca").as("a_id"), col("cb").as("b_id"))
      val newLabels = Storage.releasing(
        graft.operators.Dedup.connectedComponents(mergePairs)) { merged =>
        val mapping = merged
          .select(col("doc_id").as("old_label"), col("cluster_id").as("new_label"))
          .where(col("old_label") =!= col("new_label"))
        ccRemapPlan(state.labels, mapping, resolved).localCheckpoint(true)
      }
      Storage.unpersistLocalCheckpoint(state.labels)
      state.labels = newLabels
      state
    }
  }

  /** Pure label-remap plan for one [[updateCc]] step — factored out
    * so PLAN_DIGEST can publish the inner tree (the per-epoch
    * checkpoint hides it from the top-level digest) and the
    * no-shuffle shape is pinnable. Inputs: `labels` = the maintained
    * (node_id, cluster_id) state, `mapping` = the micro-batch-sized
    * (old_label → new_label) merge table, `resolved` = the batch's
    * Δ edges with both endpoints resolved to current labels
    * (checkpointed by the caller — two consumers below).
    *
    * The label STATE is never shuffled: existing rows remap through
    * ONE broadcast left join (only merged components change), and the
    * Δ-endpoint rows not yet in the state self-label, fold to one row
    * per new node, and push through the same broadcast mapping. */
  private[graft] def ccRemapPlan(
      labels: DataFrame, mapping: DataFrame, resolved: DataFrame): DataFrame = {
    val remapped = labels
      .join(broadcast(mapping), col("cluster_id") === col("old_label"), "left")
      .select(col("node_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    val known = labels.select(col("node_id").as("a_"))
    val deltaNodes = resolved
      .select(explode(array(
        struct(col("a").as("node_id"), col("ca").as("lbl")),
        struct(col("b").as("node_id"), col("cb").as("lbl")))).as("e"))
      .select(col("e.node_id").as("node_id"), col("e.lbl").as("lbl"))
      .groupBy(col("node_id")).agg(min(col("lbl")).as("lbl"))
      .join(known, col("node_id") === col("a_"), "anti")
      .join(broadcast(mapping), col("lbl") === col("old_label"), "left")
      .select(col("node_id"),
        coalesce(col("new_label"), col("lbl")).as("cluster_id"))
    remapped.unionByName(deltaNodes)
  }

  /** Streaming graph maintenance: ingest an edge stream (src, dst) via
    * `foreachBatch`, maintaining exact connected-component labels
    * across micro-batches with [[updateCc]]; `sink` receives the
    * updated snapshot and epoch id after every batch. */
  def ccMaintenanceStream(
      edges: DataFrame,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val state = emptyCcState(edges.sparkSession)
    foreachBatch(edges, options) { (batch, epoch) =>
      sink(updateCc(state, batch).snapshot, epoch)
    }
  }

  /** Durable, restartable [[ccMaintenanceStream]]: the labels are
    * committed per epoch with idempotent replay, the
    * [[durableStateStream]] protocol. */
  def durableCcMaintenanceStream(
      edges: DataFrame,
      stateDir: String,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    durableStateStream[CcState](
      "durableCcMaintenanceStream", edges, stateDir, options)(
      _.fold(emptyCcState(edges.sparkSession))(read => new CcState(read("labels"))))(
      update = updateCc,
      relations = st => Map("labels" -> st.labels),
      sink = (st, epoch) => sink(st.snapshot, epoch))

  /** Maintained state for ONLINE CAPPED PERCEPTUAL CLUSTERING — the
    * Hamming-signature closure of the cosineLshVerdicts → [[updateCc]]
    * composition, with the exactness the embedding gate cannot give:
    * after any batch sequence [[snapshot]] equals the batch capped
    * decision chain (`Dedup.hammingChunkPairs(allSigsSoFar, maxHamming,
    * maxBucket)` → `Dedup.connectedComponents`) — the
    * `mm_neardup_clusters_capped` law — INCLUDING the skew cap's
    * drop-whole-bucket semantics, which are not monotone under
    * arrival: a bucket that crosses `maxBucket` mid-stream must take
    * its already-admitted pairs back out of the clustering. The state
    * makes that retraction exact by keying every admitted pair with
    * the (chunk, chunk_val) bucket that admitted it, so saturating one
    * bucket removes exactly its rows while pairs co-admitted by a
    * still-open bucket survive the distinct — the batch operator's
    * EXISTS-a-qualifying-chunk law, maintained.
    *
    * State relations (all localCheckpoint'ed, superseded generations
    * released per batch): `counts` (chunk, chunk_val, n) over every
    * bucket ever seen; `members` (chunk, chunk_val, doc_id, c0..c3)
    * for UNSATURATED buckets only — each holds ≤ maxBucket signatures,
    * and a bucket's members are dropped the moment it saturates, so
    * hot buckets shrink the state instead of growing it; `admitted`
    * (chunk, chunk_val, a_id, b_id) bounded by the capped pair law's
    * own Σ min(|b|, cap)² budget; `seen` (doc_id) for idempotent
    * re-delivery (foreachBatch is at-least-once); and the cluster
    * labels via a [[CcState]].
    *
    * 100 TB shape: every per-batch term is keyed on the bucket hash —
    * Δ signatures join member/count state on (chunk, chunk_val), pair
    * expansion is in-row over ≤ cap collected members (never a
    * self-join), and the common no-saturation batch maintains labels
    * through [[updateCc]]'s broadcast remap. Only a batch that
    * actually saturates a bucket pays a clustering rebuild, and that
    * rebuild runs over the capped pair relation — the same
    * deliberately-bounded input the batch decision chain pays for
    * every run. */
  final class HammingClusterState private[streaming] (
      private[streaming] var counts: DataFrame,
      private[streaming] var members: DataFrame,
      private[streaming] var admitted: DataFrame,
      private[streaming] var seen: DataFrame,
      private[streaming] val cc: CcState,
      val maxHamming: Int,
      val maxBucket: Int) {
    /** Current (doc_id, cluster_id) — exactly the batch capped chain
      * over every signature ingested so far. */
    def snapshot: DataFrame =
      cc.snapshot.select(col("node_id").as("doc_id"), col("cluster_id"))

    /** The maintained capped pair relation (a_id, b_id), distinct. */
    def pairSnapshot: DataFrame =
      admitted.select(col("a_id"), col("b_id")).distinct()

    def release(): Unit = {
      Storage.unpersistLocalCheckpoint(counts)
      Storage.unpersistLocalCheckpoint(members)
      Storage.unpersistLocalCheckpoint(admitted)
      Storage.unpersistLocalCheckpoint(seen)
      cc.release()
    }
  }

  def emptyHammingClusterState(
      spark: SparkSession, maxHamming: Int = 3,
      maxBucket: Int = 4096): HammingClusterState = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hammingClusterState: hamming budget $maxHamming breaks the " +
        "4-chunk pigeonhole (blocking needs maxHamming + 1 <= chunks)")
    require(maxBucket >= 2,
      s"hammingClusterState: maxBucket $maxBucket can admit no pairs")
    import spark.implicits._
    new HammingClusterState(
      Seq.empty[(Int, Long, Long)].toDF("chunk", "chunk_val", "n")
        .localCheckpoint(true),
      Seq.empty[(Int, Long, Long, Long, Long, Long, Long)]
        .toDF("chunk", "chunk_val", "doc_id", "c0", "c1", "c2", "c3")
        .localCheckpoint(true),
      Seq.empty[(Int, Long, Long, Long)]
        .toDF("chunk", "chunk_val", "a_id", "b_id")
        .localCheckpoint(true),
      Seq.empty[Long].toDF("doc_id").localCheckpoint(true),
      emptyCcState(spark), maxHamming, maxBucket)
  }

  /** One incremental maintenance step: ingest a micro-batch of chunked
    * Hamming signatures (doc_id, c0..c3 — computed with the stream's
    * ONE fixed signature function, the [[graft.operators.HammingIndex]]
    * contract), updating the capped near-dup clustering EXACTLY (law
    * pinned in StreamingOpsSpec; replayed on real signatures by the
    * `mm_clusters_capped_incremental` query). Re-delivered doc_ids are
    * no-ops. */
  def updateHammingClusters(
      state: HammingClusterState, batch: DataFrame): HammingClusterState = {
    val bucketKey = Seq("chunk", "chunk_val")
    // genuinely-new signatures only (at-least-once delivery tolerated)
    Storage.releasing(batch
      .select(col("doc_id").cast("long").as("doc_id"),
        col("c0").cast("long"), col("c1").cast("long"),
        col("c2").cast("long"), col("c3").cast("long"))
      .dropDuplicates("doc_id")
      .join(state.seen, Seq("doc_id"), "anti")
      .localCheckpoint(true)) { fresh =>
      val chunked = fresh.select(
        col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
        .toDF("doc_id", "c0", "c1", "c2", "c3", "chunk", "chunk_val")
      // bucket occupancy fold: n is monotone, so saturation is
      // permanent and "newly saturated" is exactly the n_old <= cap <
      // n frontier of this batch
      Storage.releasing(state.counts.withColumnRenamed("n", "n_old")
        .join(chunked.groupBy(bucketKey.map(col): _*)
          .agg(count(lit(1)).as("dn")), bucketKey, "full")
        .select(col("chunk"), col("chunk_val"),
          (coalesce(col("n_old"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("n"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          col("dn").isNotNull.as("touched"))
        .localCheckpoint(true)) { merged =>
        val newlySat = merged
          .where(col("n") > state.maxBucket && col("n_old") <= state.maxBucket)
          .select(col("chunk"), col("chunk_val"))
        // pair delta: only buckets still within the cap AND touched this
        // batch can admit; expansion is in-row over <= cap members and
        // keeps only pairs with a Δ endpoint (old×old already admitted)
        val open = merged.where(col("n") <= state.maxBucket && col("touched"))
          .select(col("chunk"), col("chunk_val"))
        val pooled = state.members
          .withColumn("is_new", lit(false))
          .unionByName(chunked.select(
            col("chunk"), col("chunk_val"), col("doc_id"),
            col("c0"), col("c1"), col("c2"), col("c3"))
            .withColumn("is_new", lit(true)))
          .join(open, bucketKey, "semi")
        val sorted = array_sort(collect_list(struct(
          col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("is_new"))))
        Storage.releasing(pooled
          .groupBy(bucketKey.map(col): _*)
          .agg(sorted.as("ids"))
          .select(col("chunk"), col("chunk_val"),
            explode(flatten(transform(col("ids"), (a, i) =>
              transform(slice(col("ids"), i + 2, size(col("ids"))),
                b => struct(a.as("a"), b.as("b")))))).as("p"))
          .where(col("p.a.is_new") || col("p.b.is_new"))
          .where((0 until 4).map(c =>
            bit_count(col(s"p.a.c$c").bitwiseXOR(col(s"p.b.c$c"))))
            .reduce(_ + _) <= state.maxHamming)
          .select(col("chunk"), col("chunk_val"),
            col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"))
          .localCheckpoint(true)) { pairDelta =>
          // state upserts (retraction = the anti-join on newlySat)
          val newAdmitted = state.admitted
            .join(newlySat, bucketKey, "anti")
            .unionByName(pairDelta)
            .localCheckpoint(true)
          val newMembers = state.members
            .join(newlySat, bucketKey, "anti")
            .unionByName(chunked
              .select(col("chunk"), col("chunk_val"), col("doc_id"),
                col("c0"), col("c1"), col("c2"), col("c3"))
              .join(merged.where(col("n") <= state.maxBucket)
                .select(col("chunk"), col("chunk_val")), bucketKey, "semi"))
            .localCheckpoint(true)
          val newSeen = state.seen.unionByName(fresh.select("doc_id"))
            .localCheckpoint(true)
          val retracting = !newlySat.isEmpty
          Storage.unpersistLocalCheckpoint(state.counts)
          Storage.unpersistLocalCheckpoint(state.members)
          Storage.unpersistLocalCheckpoint(state.admitted)
          Storage.unpersistLocalCheckpoint(state.seen)
          state.counts = merged.select(col("chunk"), col("chunk_val"), col("n"))
            .localCheckpoint(true)
          state.members = newMembers
          state.admitted = newAdmitted
          state.seen = newSeen
          if (retracting) {
            // a saturated bucket pulled pairs out — merges may have to
            // un-happen, so rebuild from the maintained capped pair set
            // (bounded by the same law the batch chain pays every run)
            val labels = Storage.releasing(
              graft.operators.Dedup.connectedComponents(
                newAdmitted.select(col("a_id"), col("b_id")).distinct()))(
              _.select(col("doc_id").as("node_id"), col("cluster_id"))
                .localCheckpoint(true))
            Storage.unpersistLocalCheckpoint(state.cc.labels)
            state.cc.labels = labels
          } else {
            // append-only delta: the broadcast-remap incremental merge
            updateCc(state.cc,
              pairDelta.select(col("a_id").as("src"), col("b_id").as("dst")))
          }
          state
        }
      }
    }
  }

  /** Streaming perceptual-cluster maintenance: ingest a signature
    * stream (doc_id, c0..c3) via `foreachBatch`, maintaining the exact
    * capped near-dup clustering across micro-batches with
    * [[updateHammingClusters]]; `sink` receives the updated
    * (doc_id, cluster_id) snapshot and epoch id after every batch —
    * the perceptual closure of [[ccMaintenanceStream]]'s symmetry with
    * the cosine gate. */
  def hammingClusterMaintenanceStream(
      signatures: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 4096,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val state = emptyHammingClusterState(
      signatures.sparkSession, maxHamming, maxBucket)
    foreachBatch(signatures, options) { (batch, epoch) =>
      sink(updateHammingClusters(state, batch).snapshot, epoch)
    }
  }

  /** Durable, restartable [[hammingClusterMaintenanceStream]] — the
    * full capped-clustering state (bucket occupancy, open-bucket
    * members, bucket-keyed admitted pairs, seen docs, labels)
    * committed per epoch with idempotent replay, the
    * [[durableStateStream]] protocol. The retraction machinery survives
    * the restart with the state: a bucket whose occupancy crosses
    * `maxBucket` AFTER a kill/resume still takes exactly its own
    * pre-restart admitted pairs back out (pinned in StreamingOpsSpec).
    * The cap parameters are committed WITH the state and verified on
    * resume — a resume under different (maxHamming, maxBucket) would
    * silently change the law the snapshot satisfies, so it fails
    * loudly instead. */
  def durableHammingClusterMaintenanceStream(
      signatures: DataFrame,
      stateDir: String,
      maxHamming: Int = 3,
      maxBucket: Int = 4096,
      options: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = signatures.sparkSession
    import spark.implicits._
    val params = Seq((maxHamming, maxBucket)).toDF("max_hamming", "max_bucket")
    durableStateStream[HammingClusterState](
      "durableHammingClusterMaintenanceStream", signatures, stateDir, options)(
      _.fold(emptyHammingClusterState(spark, maxHamming, maxBucket)) { read =>
        val p = Storage.releasing(read("params"))(_.as[(Int, Int)].collect().head)
        require(p == ((maxHamming, maxBucket)),
          s"durableHammingClusterMaintenanceStream: state at $stateDir was " +
            s"maintained under (maxHamming, maxBucket) = $p; resuming with " +
            s"($maxHamming, $maxBucket) would change the law the snapshot " +
            "satisfies — pass the original cap parameters or use a fresh " +
            "stateDir")
        new HammingClusterState(read("counts"), read("members"),
          read("admitted"), read("seen"), new CcState(read("labels")),
          maxHamming, maxBucket)
      })(
      update = updateHammingClusters,
      relations = st => Map(
        "counts" -> st.counts, "members" -> st.members,
        "admitted" -> st.admitted, "seen" -> st.seen,
        "labels" -> st.cc.labels, "params" -> params),
      sink = (st, epoch) => sink(st.snapshot, epoch))
  }
}
