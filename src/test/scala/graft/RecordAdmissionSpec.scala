package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.{LsmSegments, RecordAdmission, RecordIndex, Storage}

/** The ER admission loop: policy parity with a hand-replayed fold,
  * idempotent replay at every crash point, and the as-of audit law. */
class RecordAdmissionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // fixture shards: b1/b2 blocks, 1-edit collisions across epochs so
  // BOTH stages fire — dominance inside epoch 0 (smith/smyth),
  // register screens at epochs 1 and 2 (smitt vs admitted smith,
  // jonez vs jones, browne vs brown)
  private val s0 = Seq((1L, "smith", "b1"), (2L, "smyth", "b1"),
    (10L, "jones", "b2"))
  private val s1 = Seq((21L, "smitt", "b1"), (22L, "brown", "b2"),
    (23L, "jonez", "b2"))
  private val s2 = Seq((31L, "browne", "b2"), (32L, "quincy", "b1"))
  private val wantByEpoch = Map(
    0L -> Set(1L, 10L), 1L -> Set(22L), 2L -> Set(32L))

  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("id", "name", "block")
  private def shard(e: Long): DataFrame =
    df(Seq(s0, s1, s2)(e.toInt))
  private def ids(adm: DataFrame): Set[Long] =
    adm.select("id").as[Long].collect().toSet

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fixture sanity: wantByEpoch IS the hand-replayed policy") {
    var admitted = Vector.empty[(Long, String, String)]
    for ((s, e) <- Seq(s0, s1, s2).zipWithIndex) {
      val screened = s.filter(x => !admitted.exists(z =>
        z._3 == x._3 && lev(z._2, x._2) <= 1))
      val surv = screened.filter(x => !screened.exists(y =>
        y._1 < x._1 && y._3 == x._3 && lev(y._2, x._2) <= 1))
      assert(surv.map(_._1).toSet == wantByEpoch(e.toLong),
        s"epoch $e replay disagrees with the fixture expectation")
      admitted ++= surv
    }
  }

  test("three-epoch fold matches the policy; later epochs screen vs everything admitted") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_eradm_fold_").toString
    RecordAdmission.init(spark, path)
    for (e <- 0L to 2L)
      assert(ids(RecordAdmission.admitEpoch(spark, path, e, shard(e),
        maxDist = 1)) == wantByEpoch(e), s"epoch $e")
    assert(ids(RecordAdmission.admittedAll(spark, path)) ==
      wantByEpoch.values.flatten.toSet)
    assert(RecordAdmission.committedEpochs(spark, path) == Seq(0L, 1L, 2L))
  }

  test("replay at the worst crash points re-reads the committed decision, never re-decides") {
    // crash window A: admitted segment for epoch 1 committed, the
    // register append LOST. Replay must complete the append with the
    // STORED decision.
    val path = java.nio.file.Files
      .createTempDirectory("graft_eradm_replay_").toString
    RecordAdmission.init(spark, path)
    RecordAdmission.admitEpoch(spark, path, 0L, shard(0L), maxDist = 1)
    val decided = RecordAdmission.decide(spark, path, shard(1L), maxDist = 1)
    try LsmSegments.appendEpoch(spark, s"$path/admitted", 1L)(p =>
      graft.operators.AdmittedLog.writeSegment(decided, p))
    finally Storage.unpersistLocalCheckpoint(decided)
    assert(LsmSegments.committedEpochs(spark, s"$path/register") == Seq(0L),
      "test harness: the register append must be missing")
    val replayed = ids(
      RecordAdmission.admitEpoch(spark, path, 1L, shard(1L), maxDist = 1))
    assert(replayed == wantByEpoch(1L),
      s"replay changed the committed decision: $replayed")
    assert(LsmSegments.committedEpochs(spark, s"$path/register") ==
      Seq(0L, 1L), "replay did not complete the missing register append")
    // crash window B: EVERYTHING for epoch 1 committed, the stream
    // checkpoint lost. A replay that re-DECIDED would screen against a
    // register already holding epoch 1's own records, flag each one a
    // fuzzy match of itself, and admit nothing — the WAL decision log
    // is what prevents that.
    val again = ids(
      RecordAdmission.admitEpoch(spark, path, 1L, shard(1L), maxDist = 1))
    assert(again == wantByEpoch(1L),
      s"full-epoch replay re-decided instead of re-reading: $again")
    // and the loop continues unharmed
    assert(ids(RecordAdmission.admitEpoch(spark, path, 2L, shard(2L),
      maxDist = 1)) == wantByEpoch(2L))
    assert(ids(RecordAdmission.admittedAll(spark, path)) ==
      wantByEpoch.values.flatten.toSet)
  }

  test("streamed loop killed and resumed mid-stream equals the batch fold; compact preserves it") {
    // the durable composition: record shards streamed through the ER
    // admission loop, killed after the first micro-batch, resumed
    // from the same checkpoint lineage, pinned equal to the batch
    // fold over the shards in arrival order
    val base = java.nio.file.Files
      .createTempDirectory("graft_eradm_stream_").toString
    val (src, ckpt, loop) = (s"$base/src", s"$base/chk", s"$base/loop")
    RecordAdmission.init(spark, loop)
    val perEpoch =
      scala.collection.concurrent.TrieMap.empty[Long, Set[Long]]
    // one file per shard + one file per trigger → micro-batch epochs
    // are exactly the shards in arrival order
    def start() = graft.streaming.StreamingOps.recordAdmissionIngestStream(
      spark.readStream.schema("id LONG, name STRING, block STRING")
        .option("maxFilesPerTrigger", 1).parquet(src),
      loop, maxDist = 1,
      options = Map("checkpointLocation" -> ckpt),
      compactEvery = 2) { (ep, admitted) =>
      perEpoch(ep) = ids(admitted)
    }
    df(s0).coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // KILL
    assert(perEpoch.get(0L).contains(wantByEpoch(0L)), s"$perEpoch")
    df(s1).coalesce(1).write.mode("append").parquet(src)
    df(s2).coalesce(1).write.mode("append").parquet(src)
    val q2 = start() // RESUME from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()
    assert((0L to 2L).forall(e => perEpoch.get(e).contains(wantByEpoch(e))),
      s"stream != batch fold: $perEpoch")
    assert(ids(RecordAdmission.admittedAll(spark, loop)) ==
      wantByEpoch.values.flatten.toSet,
      "the in-loop compaction must preserve the admitted set")
  }

  test("as-of audit law: the register snapshot equals the decision-log prefix at every epoch") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_eradm_asof_").toString
    RecordAdmission.init(spark, path)
    for (e <- 0L to 2L)
      RecordAdmission.admitEpoch(spark, path, e, shard(e), maxDist = 1)
    RecordAdmission.compact(spark, path, retainGens = 1)
    for (e <- 0L to 2L) {
      val wantPrefix = (0L to e).flatMap(wantByEpoch).toSet
      assert(ids(RecordAdmission.admittedAsOf(spark, path, e)) == wantPrefix,
        s"decision log as-of $e")
      assert(ids(RecordIndex.readAsOf(spark, s"$path/register", e)) ==
        wantPrefix, s"register as-of $e")
    }
    assert(ids(RecordAdmission.admittedAll(spark, path)) ==
      wantByEpoch.values.flatten.toSet,
      "compact must preserve the live admitted set")
  }
}
