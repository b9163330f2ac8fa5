package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, HammingIndex}
import graft.multimodal.Multimodal

/** The durable chunked-Hamming-signature index ([[HammingIndex]]):
  * the standard LSM tier battery (serve == batch over base∪deltas,
  * replay no-op, torn-segment invisibility, compact/gc) plus the
  * probe laws — the probe equals the all-pairs restriction to
  * shard-touching pairs (pigeonhole-exhaustive), planted perceptual
  * copies surface at hamming 0, and the hamming budget that would
  * break the pigeonhole is rejected loudly. */
class HammingIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sigs() = Multimodal.imageAHash(
    spark, Multimodal.imageAssets(
      spark, spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")))
    .toDF().withColumnRenamed("asset_id", "doc_id")
    .localCheckpoint(true)

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("serve over base∪deltas == batch pair law; replay/torn/compact/gc contracts hold") {
    val sg = sigs()
    val p = java.nio.file.Files.createTempDirectory("graft_ham_inc").toString
    HammingIndex.write(sg.where($"doc_id" % 3 === 0), p)
    HammingIndex.appendEpoch(spark, p, 0L, sg.where($"doc_id" % 3 === 1))
    HammingIndex.appendEpoch(spark, p, 1L, sg.where($"doc_id" % 3 === 2))
    def served() = pairSet(HammingIndex.servePairs(spark, p, maxHamming = 3))
    val want = pairSet(Dedup.hammingChunkPairs(sg, maxHamming = 3))
    assert(served() == want && want.nonEmpty,
      "incremental Hamming index diverges from the batch pair law")
    // replayed epoch: no-op
    assert(!HammingIndex.appendEpoch(spark, p, 1L, sg.where($"doc_id" % 3 === 2)))
    assert(served() == want, "replayed epoch changed the Hamming index")
    // torn segment: data written, no marker -> invisible
    sg.where($"doc_id" < 3).write.mode("overwrite").parquet(s"$p/deltas/2")
    assert(served() == want, "torn (uncommitted) segment leaked into serving")
    HammingIndex.compact(spark, p)
    HammingIndex.gc(spark, p)
    assert(served() == want, "compaction/gc changed serving results")
    assert(HammingIndex.appendEpoch(spark, p, 2L, sg.where($"doc_id" < 0)),
      "the torn epoch must be committable by its replay after gc")
    assert(served() == want, "an empty committed epoch broke serving")
  }

  test("probe == all-pairs restriction to shard-touching pairs; planted copies at hamming 0; bad budget rejected") {
    val sg = sigs()
    val p = java.nio.file.Files.createTempDirectory("graft_ham_probe").toString
    HammingIndex.write(sg, p)
    // a re-keyed shard: signature-identical copies of every 7th image
    val shard = sg.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 1000L).as("doc_id"),
        $"c0", $"c1", $"c2", $"c3").localCheckpoint(true)
    val got = pairSet(HammingIndex.probePairs(spark, p, shard))
    // reference: batch pair law over index ∪ shard, restricted to
    // pairs touching the shard (shard ids are all > 1000)
    val want = pairSet(
      Dedup.hammingChunkPairs(sg.unionByName(shard), maxHamming = 3)
        .where($"a_id" >= 1000L || $"b_id" >= 1000L))
    assert(got == want && got.nonEmpty,
      "probe diverged from the batch restriction")
    // every planted copy pairs with its original at hamming 0
    val zeros = got.filter(r => r._2 == r._1 + 1000L && r._3 == 0).map(_._1).toSet
    val planted = sg.where($"doc_id" % 7 === 0).select("doc_id")
      .as[Long].collect().toSet
    assert(zeros == planted, s"planted copies missed: ${planted -- zeros}")
    // a budget the 4-chunk pigeonhole can't guarantee fails loudly
    val e = intercept[IllegalArgumentException](
      HammingIndex.probePairs(spark, p, shard, maxHamming = 4))
    assert(e.getMessage.contains("pigeonhole"))
    // ...from BOTH entry points (servePairs shares the guard through
    // the batch pair law)
    val e2 = intercept[IllegalArgumentException](
      HammingIndex.servePairs(spark, p, maxHamming = 4).collect())
    assert(e2.getMessage.contains("pigeonhole"))
  }

  test("maxBucket skew cap: saturated buckets drop whole (never partial), first-principles capped law, probe == capped restriction, diagnostic reports hot buckets") {
    val sg = sigs()
    // plant a HOT bucket: 6 signature-identical assets (the
    // solid-color-crawl shape) — all four of their chunk buckets
    // exceed the cap, so under the cap every pair through them must
    // vanish WHOLE
    val donor = sg.orderBy("doc_id").limit(1)
    val plants = (0 until 6).map(i =>
      donor.select(lit(9000L + i).as("doc_id"),
        $"c0", $"c1", $"c2", $"c3")).reduce(_.unionByName(_))
    // re-keyed copies of every 7th image land in UNSATURATED buckets,
    // so the capped probe below still has surviving pairs to check
    val rekeyed = sg.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 1000L).as("doc_id"), $"c0", $"c1", $"c2", $"c3")
    val all = sg.unionByName(plants).unionByName(rekeyed).localCheckpoint(true)
    val cap = 5
    // first-principles capped law over the collected signatures:
    // a hamming<=3 pair qualifies iff SOME matching chunk's bucket is
    // within the cap
    val rows = all.select("doc_id", "c0", "c1", "c2", "c3")
      .as[(Long, Int, Int, Int, Int)].collect()
    def cs(r: (Long, Int, Int, Int, Int)) = Array(r._2, r._3, r._4, r._5)
    val counts = rows.flatMap(r => cs(r).zipWithIndex.map(_.swap))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val want = (for {
      a <- rows; b <- rows if a._1 < b._1
      h = (0 until 4).map(c =>
        Integer.bitCount(cs(a)(c) ^ cs(b)(c))).sum if h <= 3
      if (0 until 4).exists(c =>
        cs(a)(c) == cs(b)(c) && counts((c, cs(a)(c))) <= cap)
    } yield (a._1, b._1, h)).sortBy(r => (r._1, r._2)).toSeq
    val capped = pairSet(Dedup.hammingChunkPairs(all, 3, maxBucket = cap))
    assert(capped == want, "capped batch law diverges from first principles")
    val uncapped = pairSet(Dedup.hammingChunkPairs(all, 3))
    assert(uncapped.exists(r => r._1 >= 9000L),
      "plants generated no uncapped pairs — the cap test is vacuous")
    assert(!capped.exists(r => r._1 >= 9000L || r._2 >= 9000L),
      "pairs through the saturated plant bucket survived the cap")
    assert(capped.nonEmpty && capped.size < uncapped.size,
      "the cap either killed everything or bit nothing")
    // probe under the cap == the capped batch law over index ∪ shard,
    // restricted to shard-touching pairs (the restriction identity
    // must hold under ANY cap — saturation counts are union counts)
    val p = java.nio.file.Files.createTempDirectory("graft_ham_cap").toString
    HammingIndex.write(sg, p)
    val shard = plants.unionByName(rekeyed).localCheckpoint(true)
    val gotProbe = pairSet(
      HammingIndex.probePairs(spark, p, shard, maxHamming = 3, maxBucket = cap))
    val wantProbe = want.filter(r => r._1 >= 1000L || r._2 >= 1000L)
    assert(gotProbe == wantProbe && gotProbe.nonEmpty,
      "capped probe diverges from the capped batch restriction")
    assert(!gotProbe.exists(r => r._1 >= 9000L || r._2 >= 9000L),
      "probe pairs through the saturated plant bucket survived the cap")
    // the monitoring view names the hot buckets (plants + donor = 7
    // members in each of the donor signature's four chunk buckets)
    val p2 = java.nio.file.Files.createTempDirectory("graft_ham_sat").toString
    HammingIndex.write(all, p2)
    val sat = HammingIndex.saturatedBuckets(spark, p2, cap)
      .as[(Int, Int, Long)].collect()
    assert(sat.nonEmpty && sat.forall(_._3 > cap),
      "saturation diagnostic missed the planted hot bucket")
    val donorC0 = rows.find(_._1 >= 9000L).get._2
    assert(sat.exists(b => b._1 == 0 && b._2 == donorC0 && b._3 >= 7),
      "the donor-signature c0 bucket is missing from the diagnostic")
  }

  test("segmentStats reports one exact row per live segment and tracks compaction") {
    val sg = sigs()
    val p = java.nio.file.Files.createTempDirectory("graft_ham_stats").toString
    val third = (m: Int) => sg.where($"doc_id" % 3 === m)
    HammingIndex.write(third(0), p)
    HammingIndex.appendEpoch(spark, p, 0L, third(1))
    HammingIndex.appendEpoch(spark, p, 1L, third(2))
    // a committed epoch with no rows is still a live segment
    HammingIndex.appendEpoch(spark, p, 2L, sg.where($"doc_id" < 0))
    val got = HammingIndex.segmentStats(spark, p)
      .as[(String, Long)].collect().toMap
    val n = (m: Int) => third(m).count()
    assert(got == Map("base" -> n(0), "delta_0" -> n(1), "delta_1" -> n(2),
      "delta_2" -> 0L))
    HammingIndex.compact(spark, p)
    HammingIndex.gc(spark, p)
    val after = HammingIndex.segmentStats(spark, p)
      .as[(String, Long)].collect().toMap
    assert(after == Map("base" -> (n(0) + n(1) + n(2))),
      "post-compaction view must collapse to one base row with the total")
  }

  test("time travel: as-of snapshots replay history exactly; gc sets the horizon loudly") {
    val sg = sigs()
    val p = java.nio.file.Files.createTempDirectory("graft_ham_asof").toString
    val third = (m: Int) => sg.where($"doc_id" % 3 === m)
    HammingIndex.write(third(0), p)
    HammingIndex.appendEpoch(spark, p, 0L, third(1))
    HammingIndex.appendEpoch(spark, p, 1L, third(2))
    def law(df: org.apache.spark.sql.DataFrame) =
      pairSet(Dedup.hammingChunkPairs(df, maxHamming = 3))
    val atBase = law(third(0))
    val at0 = law(third(0).unionByName(third(1)))
    val at1 = law(sg)
    assert(at0.nonEmpty && at0 != at1, "fixture has no epoch-1 pairs to travel past")
    // every as-of point replays the exact historical pair set
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = -1L)) == atBase)
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = 0L)) == at0)
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = 1L)) == at1)
    // a future epoch serves the live snapshot (lakehouse AS OF semantics)
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = 99L)) == at1)
    // compact + retainGens = 1: history before the fold stays serveable
    HammingIndex.compact(spark, p)
    HammingIndex.gc(spark, p, retainGens = 1)
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = 0L)) == at0,
      "retained generation lost the pre-fold snapshot")
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = 1L)) == at1)
    // gc to the current generation only: the pre-fold epoch is past
    // the horizon and must fail loudly, never serve the wrong snapshot
    HammingIndex.gc(spark, p)
    val e = intercept[IllegalArgumentException](
      HammingIndex.readAsOf(spark, p, epoch = 0L))
    assert(e.getMessage.contains("horizon"))
    assert(pairSet(HammingIndex.servePairsAsOf(spark, p, epoch = 1L)) == at1,
      "the live snapshot must stay serveable after the horizon moves")
  }
}
