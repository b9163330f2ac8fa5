package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — distributed tokenizer
  * training, the missing first stage of an LLM data pipeline (the
  * other stages — dedup, quality, packing — are elsewhere in
  * `graft.operators`/`graft.queries`).
  *
  * Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units", public): start from characters,
  * repeatedly (1) count adjacent symbol pairs weighted by word
  * frequency, (2) merge the most frequent pair everywhere, greedy
  * left-to-right. The key scale property this implementation keeps:
  * after ONE corpus pass (the word count), every iteration runs on
  * the **vocabulary table** (distinct words × frequency), which is
  * orders of magnitude smaller than the corpus — at 100 TB the corpus
  * is petabyte-class but the vocab is ~10⁷ rows, so k merge rounds
  * cost k vocab passes, not k corpus passes.
  *
  * Per-iteration plan shape:
  *  - pair counting: adjacent pairs are built IN-ROW (`zip` of the
  *    token array with its own tail — no explode-then-window, no
  *    per-word shuffle), then one map-side-combinable `groupBy(pair)
  *    .agg(sum(wcount))`;
  *  - merge selection: a singleton `min_by` aggregate over the pair
  *    counts — deterministic tie-break (count DESC, then pair ASC) —
  *    folded back in via `crossJoin(broadcast(oneRow))`, the same
  *    nothing-driver-side pattern as [[Similarity.kmeans]];
  *  - merge application: a row-local `aggregate` HOF implementing the
  *    greedy left-to-right scan (accumulator = built array + one
  *    pending token), ZERO shuffle.
  *
  * Storage: the vocab rounds run in [[Storage.rounds]], so the lineage
  * stays flat in the merge count and executor storage holds at most
  * two vocab snapshots.
  *
  * Determinism: counts are exact integers, tie-breaks total, and the
  * greedy scan is order-defined — the whole merge trajectory is
  * reproducible symbol-for-symbol by the DuckDB oracle (which
  * re-derives it with an independent window/island formulation; see
  * TextQueries). */
object Bpe {

  /** Learn `merges` BPE merges from `documents(text)`. Returns one row
    * per learned merge: (step, m_left, m_right, pair_count), step
    * 1-based in learning order. */
  def learn(documents: DataFrame, merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    // ONE corpus pass: word frequencies. Tokenization is lowercase
    // alnum runs — same regex the oracle uses.
    val words = documents
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("wcount"))
    // Seed symbol sequences: one character per symbol. split on a
    // between-characters lookahead keeps no empty leading element.
    val vocab = words
      .select(col("word"), col("wcount"),
        split(col("word"), "(?!^)(?=.)").as("toks"))
      .transform(Storage.pin)
    // the per-step merge rows, pinned as each round lands; the
    // returned table is their union
    val bests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // rounds 1 .. merges−1 learn AND apply their merge in ONE
      // materializing job each: the argmax computes in the broadcast
      // subtree, the merge applies in the main scan, and the chosen
      // pair rides along as carried columns, so lifting the step's
      // merge row back out is a trivial limit over the in-memory blocks
      // rather than a second vocab aggregation
      val last = Storage.rounds(vocab, merges - 1, done = { meta =>
        bests += meta
          .select(col("step"), col("m_left"), col("m_right"), col("pair_count"))
          .limit(1).transform(Storage.pin)
        false
      }) { meta =>
        val vocab = meta.select(col("word"), col("wcount"), col("toks"))
        vocab.crossJoin(broadcast(bestPair(vocab, step = bests.size + 1)))
          .select(col("word"), col("wcount"),
            applyMerge(col("toks"), col("m_left"), col("m_right")).as("toks"),
            col("step"), col("m_left"), col("m_right"), col("pair_count"))
      }
      // the last learned merge is never applied — its application
      // would only be read by a (nonexistent) next round
      Storage.releasing(last) { meta =>
        bests += bestPair(meta.select(col("word"), col("wcount"), col("toks")),
          step = merges).transform(Storage.pin)
        // materialize the merge table ONCE: callers hold exactly one
        // k-row block, the per-step rows are released below
        bests.reduce(_ unionAll _).transform(Storage.pin)
      }
    } finally bests.foreach(Storage.unpersistLocalCheckpoint)
  }

  /** The merge learned at `step`: the singleton argmax over the
    * vocab's weighted adjacent pairs, total tie order count DESC, pair
    * ASC. Lazy, so it materializes inside the job that consumes it. A
    * corpus that exhausts adjacent pairs before `merges` rounds would
    * make the aggregate all-NULL (and the oracle's LIMIT 1 empty), so
    * it fails loudly instead of diverging. */
  private def bestPair(vocab: DataFrame, step: Int): DataFrame = {
    // in-row adjacent pairs -> one combinable weighted count
    val pairCounts = vocab
      .select(col("wcount"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("m_left"), col("p.r").as("m_right"))
      .agg(sum(col("wcount")).as("pair_count"))
    pairCounts
      .agg(min_by(
        struct(col("m_left"), col("m_right"), col("pair_count")),
        struct(negate(col("pair_count")), col("m_left"), col("m_right")))
        .as("m"))
      .select(lit(step).as("step"),
        when(col("m").isNull, raise_error(lit(
          s"Bpe.learn: no adjacent pairs left at merge step $step — " +
            "lower `merges` for this corpus")))
          .otherwise(col("m.m_left")).as("m_left"),
        col("m.m_right").as("m_right"), col("m.pair_count").as("pair_count"))
  }

  /** Greedy left-to-right application of one merge (l, r) to a symbol
    * array, as a row-local `aggregate` HOF. Accumulator: the rebuilt
    * prefix plus one pending (not-yet-emitted) symbol; a pending `l`
    * followed by `r` emits the fused symbol and clears the pending
    * slot — which is exactly why overlapping matches (l == r) resolve
    * left-first, matching the oracle's alternating-island rule. */
  def applyMerge(toks: Column, l: Column, r: Column): Column =
    aggregate(
      toks,
      struct(
        array().cast("array<string>").as("out"),
        lit(null).cast("string").as("pend")),
      (acc, t) =>
        when(acc.getField("pend") === l && t === r,
          struct(
            array_append(acc.getField("out"), concat(l, r)).as("out"),
            lit(null).cast("string").as("pend")))
          .otherwise(struct(
            when(acc.getField("pend").isNull, acc.getField("out"))
              .otherwise(array_append(acc.getField("out"), acc.getField("pend")))
              .as("out"),
            t.as("pend"))),
      acc =>
        when(acc.getField("pend").isNull, acc.getField("out"))
          .otherwise(array_append(acc.getField("out"), acc.getField("pend"))))

  /** Tokenize `documents(doc_id, text)` with a learned merge table:
    * seed characters, then every merge applied in learning order —
    * the inference half of BPE. Merge application is row-local (the
    * merge table folds into one broadcast row of structs scanned with
    * a nested HOF), so encoding is a ZERO-shuffle map over the corpus
    * — the property that lets a trained tokenizer run inside the
    * scan at 100 TB. Returns (doc_id, n_tokens, tokens).
    *
    * This HOF form is the executable REFERENCE semantics; production
    * encoding is [[encodeFast]] (identical plan shape, single-pass
    * kernel — BpeSpec pins bit-parity between the two). */
  def encode(documents: DataFrame, mergeTable: DataFrame): DataFrame = {
    // merges as ONE broadcast row, sorted by step
    val ms = mergeTable
      .agg(array_sort(collect_list(
        struct(col("step"), col("m_left"), col("m_right")))).as("ms"))
    documents
      .select(col("doc_id"), split(lower(col("text")), "[^a-z0-9]+").as("ws"))
      .crossJoin(broadcast(ms))
      .select(col("doc_id"),
        // merges apply WITHIN each word (the learner never counts a
        // pair across a word boundary), then words concatenate
        flatten(transform(
          filter(col("ws"), w => w =!= ""),
          w => aggregate(col("ms"), split(w, "(?!^)(?=.)"),
            (toks, m) => applyMerge(
              toks, m.getField("m_left"), m.getField("m_right")))))
          .as("tokens"))
      .select(col("doc_id"), size(col("tokens")).as("n_tokens"), col("tokens"))
  }

  /** [[encode]] with the per-word merge loop compiled into ONE
    * JVM scan per document ([[graft.functions.BpeEncode]]) instead of
    * k interpreted `aggregate`-HOF passes per word — same broadcast
    * merge row, same zero-shuffle plan, same output bit-for-bit
    * (BpeSpec parity), ~interpreter-overhead× faster per row. */
  def encodeFast(documents: DataFrame, mergeTable: DataFrame): DataFrame = {
    val ms = mergeTable
      .agg(collect_list(
        struct(col("step"), col("m_left"), col("m_right"))).as("ms"))
    documents
      .crossJoin(broadcast(ms))
      .select(col("doc_id"),
        graft.functions.BpeEncode(col("text"), col("ms")).as("tokens"))
      .select(col("doc_id"), size(col("tokens")).as("n_tokens"), col("tokens"))
  }

}
