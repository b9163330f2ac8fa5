package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Admission, ContentHashIndex, Dedup, LsmSegments, MinHashIndex}
import graft.streaming.StreamingOps

/** The production admission loop ([[graft.operators.Admission]]):
  * shards probed against the persisted exact + near-dup indexes,
  * survivors admitted and appended back into both, replay-safe at
  * every crash point. */
class AdmissionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // engineered corpus: tokens are long unique runs so every intended
  // near-dup pair sits at J ≈ 0.95+ (fixed-seed LSH recall is total
  // there — same regime MinHashIndexSpec pins)
  private val A = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val B = (1 to 40).map(i => s"beta$i").mkString(" ")
  private val C = (1 to 40).map(i => s"gamma$i").mkString(" ")
  private val D = (1 to 40).map(i => s"delta$i").mkString(" ")

  // shard 0: 2 near-dups A (keep 1), exact pair B (keep 3)
  private val shard0 = docs(
    (1L, A), (2L, A + " extraA"), (3L, B), (4L, B))
  // shard 1: exact copy of admitted A (drop), near-dup of admitted B
  // (drop), fresh C (keep), in-shard near-dup of C (drop)
  private val shard1 = docs(
    (10L, A), (11L, B + " extraB"), (12L, C), (13L, C + " extraC"))
  // shard 2: near-dup of REJECTED doc 2's text — its admitted twin 1
  // still catches it (drop); fresh D (keep); second near-dup of the
  // long-admitted B (drop — the index remembers epoch 0)
  private val shard2 = docs(
    (20L, A + " extraA"), (21L, D), (22L, B + " otherB"))

  private val wantByEpoch =
    Map(0L -> Set(1L, 3L), 1L -> Set(12L), 2L -> Set(21L))

  private def admittedIds(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id").as[Long].collect().toSet

  test("three-shard batch fold follows the policy; indexes converge to the admitted corpus") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_spec_").toString
    Admission.init(spark, path)
    val got = Seq(shard0, shard1, shard2).zipWithIndex.map { case (sh, e) =>
      e.toLong -> admittedIds(Admission.admitEpoch(spark, path, e.toLong, sh))
    }.toMap
    assert(got == wantByEpoch, s"admission diverged: $got")
    assert(admittedIds(Admission.admittedAll(spark, path)) ==
      wantByEpoch.values.flatten.toSet)
    // both indexes hold EXACTLY the admitted corpus: the exact tier
    // serves one singleton group per admitted doc, and the admitted
    // corpus is exact- and near-dup-free by construction of the policy
    val admitted = Admission.admittedAll(spark, path)
    assert(ContentHashIndex.serveGroups(spark, s"$path/exact")
      .select("keep_doc_id", "n_copies")
      .as[(Long, Long)].collect().toSet ==
      wantByEpoch.values.flatten.map(id => (id, 1L)).toSet)
    assert(MinHashIndex.servePairs(spark, s"$path/neardup").isEmpty)
    assert(Dedup.exact(admitted).where($"n_copies" > 1).isEmpty)
  }

  test("time-travel audit: every store as of epoch e holds exactly the admitted prefix") {
    // the reproducibility question a production loop answers from
    // disk: "what was the admitted corpus — and what did each
    // screening store hold — when epoch e committed?" With
    // maintenance at retainGens = 1, the as-of snapshot of the
    // decision log AND of every index store equals the admitted
    // prefix at that epoch, with no ingest replay.
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_audit_").toString
    Admission.init(spark, path)
    Seq(shard0, shard1, shard2).zipWithIndex.foreach { case (sh, e) =>
      Admission.admitEpoch(spark, path, e.toLong, sh)
    }
    Admission.compact(spark, path, retainGens = 1)
    val prefixes = Map(
      0L -> wantByEpoch(0L),
      1L -> (wantByEpoch(0L) ++ wantByEpoch(1L)),
      2L -> wantByEpoch.values.flatten.toSet)
    prefixes.foreach { case (e, want) =>
      assert(admittedIds(Admission.admittedAsOf(spark, path, e)) == want,
        s"decision log as of epoch $e")
      assert(ContentHashIndex.readAsOf(spark, s"$path/exact", e)
        .select("doc_id").as[Long].collect().toSet == want,
        s"exact store as of epoch $e")
      assert(MinHashIndex.readAsOf(spark, s"$path/neardup", e)
        .select("doc_id").as[Long].collect().toSet == want,
        s"neardup store as of epoch $e")
    }
    assert(admittedIds(Admission.admittedAsOf(spark, path, 2L)) ==
      admittedIds(Admission.admittedAll(spark, path)),
      "the latest as-of point must equal the live admitted corpus")
  }

  test("replay at the worst crash point re-reads the committed decision, never re-decides") {
    // crash window: the admitted segment for epoch 1 committed, the
    // exact-index append committed, the MinHash append LOST. A replay
    // that re-DECIDED would probe indexes already holding epoch 1's
    // own docs, flag every one a duplicate of itself, and admit
    // nothing — the write-ahead decision log is what prevents that.
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_replay_").toString
    Admission.init(spark, path)
    Admission.admitEpoch(spark, path, 0L, shard0)
    // run epoch 1's first two protocol steps by hand, "crash" before
    // the MinHash append
    val decided = Admission.decide(spark, path, shard1, 0.5)
    try {
      LsmSegments.appendEpoch(spark, s"$path/admitted", 1L)(p =>
        graft.operators.AdmittedLog.writeSegment(decided, p))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(decided)
    ContentHashIndex.appendEpoch(spark, s"$path/exact", 1L,
      spark.read.parquet(s"$path/admitted/deltas/1"))
    assert(LsmSegments.committedEpochs(spark, s"$path/neardup") == Seq(0L),
      "test harness: the MinHash append must be missing")
    // restart replays epoch 1 with the SAME batch content
    val replayed = admittedIds(Admission.admitEpoch(spark, path, 1L, shard1))
    assert(replayed == wantByEpoch(1L),
      s"replay changed the committed decision: $replayed")
    assert(LsmSegments.committedEpochs(spark, s"$path/neardup") ==
      Seq(0L, 1L), "replay did not complete the missing index append")
    // and the loop continues unharmed
    assert(admittedIds(Admission.admitEpoch(spark, path, 2L, shard2)) ==
      wantByEpoch(2L))
    assert(admittedIds(Admission.admittedAll(spark, path)) ==
      wantByEpoch.values.flatten.toSet)
  }

  test("streamed loop killed and resumed mid-stream equals the batch fold; compact preserves it") {
    // the end-to-end composition the round-11 review asked for: a
    // durable stream of shards through the admission loop, killed
    // after the first micro-batch, resumed from the same checkpoint
    // lineage, and pinned equal to the batch fold over the same
    // shards in arrival order.
    val base = java.nio.file.Files
      .createTempDirectory("graft_adm_stream_").toString
    val (src, ckpt, loop) = (s"$base/src", s"$base/chk", s"$base/loop")
    Admission.init(spark, loop)
    val perEpoch =
      scala.collection.concurrent.TrieMap.empty[Long, Set[Long]]
    // one file per shard + one file per trigger, so micro-batch
    // epochs are exactly the shards in arrival order
    def start() = StreamingOps.admissionIngestStream(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(src),
      loop, options = Map("checkpointLocation" -> ckpt)) { (ep, admitted) =>
      perEpoch(ep) = admittedIds(admitted)
    }
    shard0.coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()   // KILL
    assert(perEpoch.get(0L).contains(wantByEpoch(0L)), s"$perEpoch")
    shard1.coalesce(1).write.mode("append").parquet(src)
    shard2.coalesce(1).write.mode("append").parquet(src)
    val q2 = start()                                  // RESUME
    try q2.processAllAvailable() finally q2.stop()
    assert(perEpoch.toMap == wantByEpoch, s"$perEpoch")
    assert(admittedIds(Admission.admittedAll(spark, loop)) ==
      wantByEpoch.values.flatten.toSet)
    // a fresh lineage against the live loop fails fast
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.admissionIngestStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        loop)()
    }
    assert(ex.getMessage.contains("checkpointLocation"), ex.getMessage)
    // maintenance folds all three stores without changing anything
    Admission.compact(spark, loop)
    assert(admittedIds(Admission.admittedAll(spark, loop)) ==
      wantByEpoch.values.flatten.toSet)
    assert(MinHashIndex.servePairs(spark, s"$loop/neardup").isEmpty)
  }

  test("streamed loop with compactEvery folds all three stores mid-stream without changing admissions") {
    // in-loop maintenance: with compactEvery = 2 the threshold fires
    // after epoch 1 (two unfolded epochs), folding admitted + exact +
    // neardup into generation 1 while the stream keeps running —
    // epoch 2 is then decided against the COMPACTED indexes and must
    // admit exactly what the uncompacted batch fold admits.
    val base = java.nio.file.Files
      .createTempDirectory("graft_adm_autocpt_").toString
    val (src, ckpt, loop) = (s"$base/src", s"$base/chk", s"$base/loop")
    Admission.init(spark, loop)
    val perEpoch =
      scala.collection.concurrent.TrieMap.empty[Long, Set[Long]]
    shard0.coalesce(1).write.mode("append").parquet(src)
    shard1.coalesce(1).write.mode("append").parquet(src)
    shard2.coalesce(1).write.mode("append").parquet(src)
    val q = StreamingOps.admissionIngestStream(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(src),
      loop, options = Map("checkpointLocation" -> ckpt),
      compactEvery = 2) { (ep, admitted) =>
      perEpoch(ep) = admittedIds(admitted)
    }
    try q.processAllAvailable() finally q.stop()
    assert(perEpoch.toMap == wantByEpoch, s"admissions diverged: $perEpoch")
    for (s <- Seq("admitted", "exact", "neardup")) {
      // threshold fired exactly once, after epoch 1; epoch 2 is the
      // one unfolded delta awaiting the next cycle
      assert(LsmSegments.current(spark, s"$loop/$s") == (1L, 1L),
        s"store $s did not fold: ${LsmSegments.current(spark, s"$loop/$s")}")
      // epoch markers survive the in-loop gc as the replay guard
      assert(LsmSegments.committedEpochs(spark, s"$loop/$s") ==
        Seq(0L, 1L, 2L), s"store $s lost epoch markers")
    }
    assert(admittedIds(Admission.admittedAll(spark, loop)) ==
      wantByEpoch.values.flatten.toSet)
    assert(MinHashIndex.servePairs(spark, s"$loop/neardup").isEmpty)
  }

  // ---- semantic stage (fourth store) ----
  // unique long token runs per doc: the exact and MinHash stages pass
  // EVERYTHING, so every drop below is attributable to the semantic
  // stage alone. Two fixed centroids split the embedding plane.
  private def run(k: String) = (1 to 40).map(i => s"$k$i").mkString(" ")
  private def sdocs(rows: (Long, String, Array[Float])*) =
    rows.toDF("doc_id", "text", "embedding")
  private val semCentroids = Seq(
    (0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("c_id", "c_vec")
  private val vA = Array(1f, 0f)
  private val vB = Array(0f, 1f)
  private val vA2 = Array(0.99f, 0.1f)    // cos(vA2, vA) ≈ 0.995 — same list
  private val vAfar = Array(0.8f, 0.6f)   // list 0, cos(vAfar, vA) = 0.8
  private val vB2 = Array(0.1f, 0.99f)    // cos(vB2, vB) ≈ 0.995 — same list
  private val u1 = Array(0.6f, 0.8f)      // list 1, cos(u1, vB) = 0.8
  private val u2 = Array(0.58f, 0.82f)    // cos(u1, u2) ≈ 0.9996 — in-shard pair
  private val semShard0 = sdocs(
    (1L, run("ta"), vA), (2L, run("tb"), vB))
  private val semShard1 = sdocs(
    (10L, run("tc"), vA2),   // semantic copy of admitted 1 → drop
    (11L, run("td"), vAfar), // same list as 1, cos 0.8 → keep
    (12L, run("te"), vB2),   // semantic copy of admitted 2 → drop
    (14L, run("tf"), u1),    // keeps (smaller id of the in-shard pair)
    (15L, run("tg"), u2))    // in-shard semantic dup of 14 → drop
  private val semWant = Map(0L -> Set(1L, 2L), 1L -> Set(11L, 14L))

  test("semantic stage drops embedding near-dups the text stages cannot see") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_sem_spec_").toString
    Admission.init(spark, path, semanticCentroids = Some(semCentroids))
    val got = Seq(semShard0, semShard1).zipWithIndex.map { case (sh, e) =>
      e.toLong -> admittedIds(Admission.admitEpoch(spark, path, e.toLong, sh))
    }.toMap
    assert(got == semWant, s"semantic admission diverged: $got")
    // the fourth store holds exactly the admitted embeddings
    val indexed = graft.operators.IvfIndex.readAll(spark, s"$path/semantic")
      .select("vec_id").as[Long].collect().toSet
    assert(indexed == semWant.values.flatten.toSet,
      s"semantic index out of sync: $indexed")
    // and the admitted store (the decision log) carries the embedding
    // column — the replay path re-reads it for the semantic append
    assert(Admission.admittedAll(spark, path).columns.contains("embedding"))
    // maintenance folds the fourth store with the other three
    Admission.compact(spark, path)
    assert(LsmSegments.current(spark, s"$path/semantic") == (1L, 1L),
      "semantic store did not fold")
    assert(admittedIds(Admission.admittedAll(spark, path)) ==
      semWant.values.flatten.toSet)
  }

  test("compressed (PQ) semantic tier admits identically to the raw tier; its store holds codes, not floats") {
    // recall through the ADC shortlist is 100% here by construction —
    // the fixture's inverted lists hold ≤ 3 embeddings, far under the
    // shortlist — so the compressed stage sees every same-list
    // candidate, exact-verifies it from the decision log, and must
    // reach the exact decisions of the raw tier
    val raw = java.nio.file.Files
      .createTempDirectory("graft_adm_semraw_").toString
    val pq = java.nio.file.Files
      .createTempDirectory("graft_adm_sempq_").toString
    Admission.init(spark, raw, semanticCentroids = Some(semCentroids))
    val cbSeed = Seq(
      (0, Array(0.0, 0.0)), (1, Array(0.2, -0.2)),
      (2, Array(-0.2, 0.2)), (3, Array(0.1, 0.1)))
      .toDF("cw_k", "cw")
    Admission.init(spark, pq, semanticCentroids = Some(semCentroids),
      semanticCodebook = Some(cbSeed),
      semanticSubspaces = 2, semanticSubDim = 1)
    val (gotRaw, gotPq) = Seq(semShard0, semShard1).zipWithIndex.map {
      case (sh, e) =>
        (admittedIds(Admission.admitEpoch(spark, raw, e.toLong, sh)),
          admittedIds(Admission.admitEpoch(spark, pq, e.toLong, sh)))
    }.unzip
    assert(gotPq == gotRaw, s"compressed tier diverged: $gotPq vs $gotRaw")
    assert(gotPq.zipWithIndex.map { case (s, e) => e.toLong -> s }.toMap
      == semWant)
    // the compressed store really is compressed: code columns, no raw
    // embedding column on disk
    val segCols = graft.operators.IvfPqIndex
      .readAll(spark, s"$pq/semantic").columns.toSet
    assert(segCols.contains("c0") && segCols.contains("c1") &&
      !segCols.contains("embedding"),
      s"compressed semantic store schema unexpected: $segCols")
    // maintenance folds the compressed store like any other
    Admission.compact(spark, pq)
    assert(LsmSegments.current(spark, s"$pq/semantic") == (1L, 1L))
    assert(admittedIds(Admission.admittedAll(spark, pq)) ==
      semWant.values.flatten.toSet)
  }

  test("replay with the semantic append lost re-reads the decision and completes the fourth store") {
    // worst crash point for the EXTENDED loop: admitted + exact +
    // neardup committed for epoch 1, the semantic append LOST. The
    // replay must re-read the stored decision (re-deciding would see
    // epoch 1's own embeddings in... nothing — the semantic index is
    // exactly the store whose append is missing, but the exact index
    // DOES already hold epoch 1's texts, which is what poisons a
    // re-decision) and only complete the missing semantic append.
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_sem_replay_").toString
    Admission.init(spark, path, semanticCentroids = Some(semCentroids))
    Admission.admitEpoch(spark, path, 0L, semShard0)
    val decided = Admission.decide(spark, path, semShard1, 0.5)
    try {
      LsmSegments.appendEpoch(spark, s"$path/admitted", 1L)(p =>
        graft.operators.AdmittedLog.writeSegment(decided, p))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(decided)
    val committed1 = spark.read.parquet(s"$path/admitted/deltas/1")
    ContentHashIndex.appendEpoch(spark, s"$path/exact", 1L, committed1)
    MinHashIndex.appendEpoch(spark, s"$path/neardup", 1L, committed1)
    assert(LsmSegments.committedEpochs(spark, s"$path/semantic") == Seq(0L),
      "test harness: the semantic append must be missing")
    val replayed = admittedIds(Admission.admitEpoch(spark, path, 1L, semShard1))
    assert(replayed == semWant(1L),
      s"replay changed the committed decision: $replayed")
    assert(LsmSegments.committedEpochs(spark, s"$path/semantic") == Seq(0L, 1L),
      "replay did not complete the missing semantic append")
    val indexed = graft.operators.IvfIndex.readAll(spark, s"$path/semantic")
      .select("vec_id").as[Long].collect().toSet
    assert(indexed == semWant.values.flatten.toSet)
  }

  test("streamed semantic loop killed and resumed equals the batch fold") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_adm_sem_stream_").toString
    val (src, ckpt, loop) = (s"$base/src", s"$base/chk", s"$base/loop")
    Admission.init(spark, loop, semanticCentroids = Some(semCentroids))
    val perEpoch =
      scala.collection.concurrent.TrieMap.empty[Long, Set[Long]]
    def start() = StreamingOps.admissionIngestStream(
      spark.readStream.schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(src),
      loop, options = Map("checkpointLocation" -> ckpt)) { (ep, admitted) =>
      perEpoch(ep) = admittedIds(admitted)
    }
    semShard0.coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()   // KILL
    assert(perEpoch.get(0L).contains(semWant(0L)), s"$perEpoch")
    semShard1.coalesce(1).write.mode("append").parquet(src)
    val q2 = start()                                  // RESUME
    try q2.processAllAvailable() finally q2.stop()
    assert(perEpoch.toMap == semWant, s"$perEpoch")
    assert(admittedIds(Admission.admittedAll(spark, loop)) ==
      semWant.values.flatten.toSet)
  }

  // ---- multimodal (perceptual Hamming) admission ----
  // shards carry (doc_id, text, c0..c3): texts are unique long token
  // runs (the exact and MinHash stages pass everything through), so
  // only the perceptual stage can drop — the image-crawl analogue of
  // the semantic battery's "near-dup meanings with zero token overlap"
  private def mmText(id: Long) =
    (1 to 40).map(j => s"px${id}_$j").mkString(" ")
  private def mmDocs(rows: (Long, Int, Int, Int, Int)*) =
    rows.map(r => (r._1, mmText(r._1), r._2, r._3, r._4, r._5))
      .toDF("doc_id", "text", "c0", "c1", "c2", "c3")
  // shard 0: 2 drops via in-shard dominance, 1 far keeper
  private val mmShard0 = mmDocs(
    (1L, 0x0001, 0, 0, 0),
    (2L, 0x0003, 0, 0, 0),        // 1 bit from doc 1 → drop (in-shard)
    (3L, 0x0F0F, 0x00FF, 0, 0))   // far from everything → keep
  // shard 1: exact sig copy of admitted 1 (drop), fresh far keeper,
  // in-shard 1-bit near-dup of it (drop), and a sig near the REJECTED
  // doc 2's — its admitted twin 1 still catches it (drop)
  private val mmShard1 = mmDocs(
    (10L, 0x0001, 0, 0, 0),       // == indexed 1 → drop
    (11L, 0x3C00, 0, 0x0077, 0),  // far → keep
    (12L, 0x3C01, 0, 0x0077, 0),  // 1 bit from 11 (in-shard) → drop
    (13L, 0x0002, 0, 0, 0))       // 2 bits from indexed 1 → drop
  // shard 2: rejected-twin catch across epochs, far keeper, exact sig
  // copy of the epoch-1 admission (the index remembers every epoch)
  private val mmShard2 = mmDocs(
    (20L, 0x0003, 0, 0, 0),       // 1 bit from indexed 1 → drop
    (21L, 0x8888, 0x4444, 0, 0x0001), // far → keep
    (22L, 0x3C00, 0, 0x0077, 0))  // == indexed 11 → drop
  private val mmWant =
    Map(0L -> Set(1L, 3L), 1L -> Set(11L), 2L -> Set(21L))

  test("perceptual stage drops Hamming near-dups the text stages cannot see; the fifth store tracks the admitted signatures") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_mm_spec_").toString
    Admission.init(spark, path, perceptual = true)
    val got = Seq(mmShard0, mmShard1, mmShard2).zipWithIndex.map {
      case (sh, e) =>
        e.toLong -> admittedIds(Admission.admitEpoch(spark, path, e.toLong, sh))
    }.toMap
    assert(got == mmWant, s"perceptual admission diverged: $got")
    // the perceptual store holds exactly the admitted signatures
    val indexed = graft.operators.HammingIndex
      .readAll(spark, s"$path/perceptual")
      .select("doc_id").as[Long].collect().toSet
    assert(indexed == mmWant.values.flatten.toSet,
      s"perceptual index out of sync: $indexed")
    // the decision log carries the signature columns — the replay
    // path re-reads them for the perceptual append
    val admCols = Admission.admittedAll(spark, path).columns.toSet
    assert(Set("c0", "c1", "c2", "c3").subsetOf(admCols), admCols.toString)
    // the admitted corpus is perceptually dedup-free by construction
    assert(graft.operators.HammingIndex
      .servePairs(spark, s"$path/perceptual").isEmpty)
    // maintenance folds the perceptual store with the other three
    Admission.compact(spark, path)
    assert(LsmSegments.current(spark, s"$path/perceptual") == (1L, 2L),
      "perceptual store did not fold")
    assert(admittedIds(Admission.admittedAll(spark, path)) ==
      mmWant.values.flatten.toSet)
  }

  test("replay with the perceptual append lost re-reads the decision and completes the fifth store") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_mm_replay_").toString
    Admission.init(spark, path, perceptual = true)
    Admission.admitEpoch(spark, path, 0L, mmShard0)
    val decided = Admission.decide(spark, path, mmShard1, 0.5)
    try {
      LsmSegments.appendEpoch(spark, s"$path/admitted", 1L)(p =>
        graft.operators.AdmittedLog.writeSegment(decided, p))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(decided)
    val committed1 = spark.read.parquet(s"$path/admitted/deltas/1")
    ContentHashIndex.appendEpoch(spark, s"$path/exact", 1L, committed1)
    MinHashIndex.appendEpoch(spark, s"$path/neardup", 1L, committed1)
    assert(LsmSegments.committedEpochs(spark, s"$path/perceptual") == Seq(0L),
      "test harness: the perceptual append must be missing")
    val replayed = admittedIds(Admission.admitEpoch(spark, path, 1L, mmShard1))
    assert(replayed == mmWant(1L),
      s"replay changed the committed decision: $replayed")
    assert(LsmSegments.committedEpochs(spark, s"$path/perceptual") ==
      Seq(0L, 1L), "replay did not complete the missing perceptual append")
    assert(admittedIds(Admission.admitEpoch(spark, path, 2L, mmShard2)) ==
      mmWant(2L))
  }

  test("streamed multimodal loop killed and resumed equals the batch fold; compactEvery folds all four stores") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_adm_mm_stream_").toString
    val (src, ckpt, loop) = (s"$base/src", s"$base/chk", s"$base/loop")
    Admission.init(spark, loop, perceptual = true)
    val perEpoch =
      scala.collection.concurrent.TrieMap.empty[Long, Set[Long]]
    def start() = StreamingOps.admissionIngestStream(
      spark.readStream
        .schema("doc_id LONG, text STRING, c0 INT, c1 INT, c2 INT, c3 INT")
        .option("maxFilesPerTrigger", 1).parquet(src),
      loop, options = Map("checkpointLocation" -> ckpt),
      compactEvery = 2) { (ep, admitted) =>
      perEpoch(ep) = admittedIds(admitted)
    }
    mmShard0.coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()   // KILL
    assert(perEpoch.get(0L).contains(mmWant(0L)), s"$perEpoch")
    mmShard1.coalesce(1).write.mode("append").parquet(src)
    mmShard2.coalesce(1).write.mode("append").parquet(src)
    val q2 = start()                                  // RESUME
    try q2.processAllAvailable() finally q2.stop()
    assert(perEpoch.toMap == mmWant, s"$perEpoch")
    assert(admittedIds(Admission.admittedAll(spark, loop)) ==
      mmWant.values.flatten.toSet)
    // compactEvery = 2 fired mid-stream: the perceptual store folded
    // past generation 0 along with the rest
    assert(LsmSegments.current(spark, s"$loop/perceptual")._1 >= 1L,
      "in-loop maintenance never folded the perceptual store")
    assert(graft.operators.HammingIndex
      .readAll(spark, s"$loop/perceptual")
      .select("doc_id").as[Long].collect().toSet ==
      mmWant.values.flatten.toSet)
  }

  test("five-store loop: perceptual and semantic stages compose, each drop attributable to exactly one stage") {
    // shards carry text + embedding + signature; texts are unique
    // long runs (text stages pass everything), and each planted drop
    // is caught by exactly ONE of the optional stages: doc 10's
    // signature matches admitted 1 while its embedding is far
    // (cos 0.8 < 0.95) — only the perceptual stage can drop it; doc
    // 11's embedding is a near-copy of admitted 1 while its signature
    // is far — only the semantic stage can.
    val far2 = (0x0F0F, 0x00FF, 0, 0)
    val s1 = (0x0001, 0, 0, 0)
    val far11 = (0x3C00, 0, 0x0077, 0)
    val far12 = (0x8888, 0x4444, 0, 1)
    def fdocs(rows: (Long, String, Array[Float], (Int, Int, Int, Int))*) =
      rows.map(r => (r._1, r._2, r._3, r._4._1, r._4._2, r._4._3, r._4._4))
        .toDF("doc_id", "text", "embedding", "c0", "c1", "c2", "c3")
    val fShard0 = fdocs(
      (1L, run("fa"), vA, s1), (2L, run("fb"), vB, far2))
    val fShard1 = fdocs(
      (10L, run("fc"), vAfar, s1),    // perceptual drop ONLY
      (11L, run("fd"), vA2, far11),   // semantic drop ONLY
      (12L, run("fe"), u1, far12))    // far in both → keep
    val fWant = Map(0L -> Set(1L, 2L), 1L -> Set(12L))
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_five_").toString
    Admission.init(spark, path,
      semanticCentroids = Some(semCentroids), perceptual = true)
    val got = Seq(fShard0, fShard1).zipWithIndex.map { case (sh, e) =>
      e.toLong -> admittedIds(Admission.admitEpoch(spark, path, e.toLong, sh))
    }.toMap
    assert(got == fWant, s"five-store admission diverged: $got")
    // both optional stores track exactly the admitted corpus, and the
    // decision log carries BOTH stages' columns
    assert(graft.operators.HammingIndex.readAll(spark, s"$path/perceptual")
      .select("doc_id").as[Long].collect().toSet ==
      fWant.values.flatten.toSet)
    assert(graft.operators.IvfIndex.readAll(spark, s"$path/semantic")
      .select("vec_id").as[Long].collect().toSet ==
      fWant.values.flatten.toSet)
    val admCols = Admission.admittedAll(spark, path).columns.toSet
    assert(Set("embedding", "c0", "c1", "c2", "c3").subsetOf(admCols))
    // maintenance folds all five stores
    Admission.compact(spark, path)
    for (st <- Seq("admitted", "exact", "neardup", "perceptual", "semantic"))
      assert(LsmSegments.current(spark, s"$path/$st")._1 == 1L,
        s"store $st did not fold")
    assert(admittedIds(Admission.admittedAll(spark, path)) ==
      fWant.values.flatten.toSet)
  }

  test("an un-initialized loop fails loudly instead of admitting into thin air") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_uninit_").toString
    val e = intercept[IllegalArgumentException] {
      Admission.admitEpoch(spark, path, 0L, shard0)
    }
    assert(e.getMessage.contains("never initialized"), e.getMessage)
  }

  test("a codebook without centroids fails at init instead of silently dropping the semantic stage") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_adm_badinit_").toString
    val cb = Seq((0, Array(0.0, 0.0))).toDF("cw_k", "cw")
    val e = intercept[IllegalArgumentException] {
      Admission.init(spark, path, semanticCodebook = Some(cb))
    }
    assert(e.getMessage.contains("semanticCodebook"), e.getMessage)
  }
}
