package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ENTITY-RESOLUTION admission loop — [[Admission]]'s structured-
  * record sibling, the gate a master-data ingest runs: arriving
  * record shards are screened FUZZY against the durable register of
  * everything admitted so far ([[RecordIndex.probeShard]]), the
  * survivors admitted under smaller-id dominance, and appended back —
  * so every later shard resolves against the full admitted register,
  * without a register re-scan, across process restarts. (The STEDI
  * reference joins two record streams on an exact customer key,
  * `sparkpykafkajoin.py:141-146`; this is the durable fuzzy
  * generalization of that key check at ingest time.)
  *
  * Two marker-last [[LsmSegments]] stores under one root `path`:
  *  - `path/admitted` — the admitted records (id, name, block), one
  *    delta segment per epoch; the WRITE-AHEAD DECISION LOG exactly
  *    as in [[Admission]]: the decision for epoch e is computed once,
  *    against register state that cannot yet contain e, and committed
  *    here FIRST — a replay re-reads the stored decision instead of
  *    re-deciding against a register that may already hold the
  *    epoch's own records (which would wrongly flag every admitted
  *    record as a fuzzy match of itself);
  *  - `path/register` — the [[RecordIndex]] of admitted records.
  *
  * ADMISSION POLICY (deterministic; the oracle replays it in SQL):
  * per shard, in arrival (epoch) order —
  *  1. register screen: a record is dropped if ANY already-admitted
  *     record in its block is within `maxDist` name edits
  *     ([[RecordIndex.probeShard]] supplies exactly these matches,
  *     o(index) per probe);
  *  2. within-shard dominance: among screen survivors, a record X is
  *     dropped if a smaller-id screen survivor of the same shard is
  *     within `maxDist` edits ([[EntityResolution.blockedPairs]]'s
  *     a < b orientation — a rejected survivor still dominates, the
  *     same non-transitive law as [[Admission]]'s near-dup stage);
  *  3. survivors are admitted and appended to both stores under the
  *     shard's epoch id.
  *
  * Crash safety (the order IS the proof, inherited verbatim from
  * [[Admission]]): the decision commits to `admitted` first; only
  * then does the (idempotent, marker-guarded) register append run. A
  * crash before the admitted marker leaves the register untouched, so
  * replay re-decides against pre-epoch state and gets the same answer
  * (deterministic policy); a crash after it finds the decision
  * committed and only re-runs the missing register append. Single
  * writer per root, per the [[LsmSegments]] contract.
  *
  * 100 TB shape: per shard the work is one broadcast-semi-join probe
  * cut to the shard's blocks (Σ |shard_b|·|register_b|, the blocking
  * contract's own bound, loud past `maxPairsPerBlock`) plus one
  * shard-sized blocked self-join — never a scan of the admitted
  * register. Shard ids must be globally unique, so shards are
  * disjoint from the register by construction. */
object RecordAdmission {

  private def store(path: String, which: String) = s"$path/$which"

  private def emptyRecords(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id"), lit("").as("name"),
      lit("").as("block"))

  /** Initialize both stores empty. */
  def init(spark: SparkSession, path: String): Unit = {
    LsmSegments.initBase(spark, store(path, "admitted"))(
      AdmittedLog.writeSegment(emptyRecords(spark), _))
    RecordIndex.write(emptyRecords(spark), store(path, "register"))
  }

  /** The admission decision for one shard against the CURRENT
    * register — the pure policy, shared by the loop and its spec.
    * Returns an eagerly materialized (id, name, block) frame (at most
    * shard-sized), which the caller owns.
    * Does NOT mutate anything. */
  private[graft] def decide(
      spark: SparkSession, path: String, shard: DataFrame,
      maxDist: Int, maxPairsPerBlock: Long = 100000000L): DataFrame = {
    // one scan of the shard source, pinned: three consumers below
    // (register probe, in-shard pair law, survivor projections)
    Storage.releasing(shard.select("id", "name", "block")
        .localCheckpoint(eager = true)) { pinned =>
      // stage 1: the o(index) fuzzy screen vs the register
      val screened = Storage.releasing(RecordIndex.probeShard(
          spark, store(path, "register"), pinned, maxDist, maxPairsPerBlock)) { matches =>
        pinned
          .join(broadcast(matches.select(col("shard_id").as("id")).distinct()),
            Seq("id"), "left_anti")
          .localCheckpoint(eager = true)
      }
      // stage 2: smaller-id dominance among screen survivors — any
      // a < b pair drops b (a rejected survivor still dominates)
      Storage.releasing(screened) { screened =>
        val pairs = EntityResolution.blockedPairs(
          screened, Seq("block"), maxDist, maxPairsPerBlock)
        screened
          .join(broadcast(pairs.select(col("b_id").as("id")).distinct()),
            Seq("id"), "left_anti")
          .localCheckpoint(eager = true)
      }
    }
  }

  /** Admit one epoch: decide (or, on replay, re-read the committed
    * decision), commit the admitted segment, then append the admitted
    * records into the register. Idempotent under replay at every
    * crash point. Returns the admitted records (lazy, over the stored
    * segment). */
  def admitEpoch(
      spark: SparkSession, path: String, epoch: Long, shard: DataFrame,
      maxDist: Int = 1, maxPairsPerBlock: Long = 100000000L): DataFrame = {
    val admittedPath = store(path, "admitted")
    // fail fast on a loop that was never [[init]]ed
    LsmSegments.current(spark, admittedPath)
    LsmSegments.appendEpoch(spark, admittedPath, epoch) { p =>
      Storage.releasing(decide(spark, path, shard, maxDist, maxPairsPerBlock))(
        AdmittedLog.writeSegment(_, p))
    }
    val admitted = LsmSegments.readArtifacts(spark, Seq(s"$admittedPath/deltas/$epoch"))
    RecordIndex.appendEpoch(spark, store(path, "register"), epoch, admitted)
    admitted
  }

  /** The admitted register: one consistent snapshot (base ∪ committed
    * deltas) of the decision log. */
  def admittedAll(spark: SparkSession, path: String): DataFrame =
    AdmittedLog.readAll(spark, store(path, "admitted"))

  /** The admitted register AS OF a committed epoch — the decision
    * log's prefix ([[Admission.admittedAsOf]]'s audit law; run
    * maintenance with `retainGens ≥ 1` to keep pre-fold epochs
    * auditable). */
  def admittedAsOf(spark: SparkSession, path: String, epoch: Long): DataFrame =
    AdmittedLog.readAsOf(spark, store(path, "admitted"), epoch)

  /** Committed epochs of the admitted store (== fully decided
    * epochs). */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] =
    AdmittedLog.committedEpochs(spark, store(path, "admitted"))

  /** Maintenance: fold + retire both stores ([[Admission.compact]]'s
    * retainGens contract — `retainGens = 1` is the in-loop policy). */
  def compact(spark: SparkSession, path: String, retainGens: Int = 0): Unit = {
    AdmittedLog.compact(spark, store(path, "admitted"))
    AdmittedLog.gc(spark, store(path, "admitted"), retainGens)
    RecordIndex.compact(spark, store(path, "register"))
    RecordIndex.gc(spark, store(path, "register"), retainGens)
  }
}
