package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IvfPqIndex, Similarity}

/** The persisted IVFADC tier's full spec battery — the same laws every
  * other LSM tier carries (SimilaritySpec's SQ8/PQ/binary/IVF delta
  * tests): serving over any base∪delta split is bit-identical to the
  * in-memory [[Similarity.ivfPqKnn]] trajectory with the same trained
  * state (this is what pins the disk round-trip — the c_id partition
  * column's int→long cast, the meta row, the code columns' unionByName
  * across segments), plus replay no-op, torn-segment invisibility,
  * compact+gc preservation, the compaction-race reader, and the
  * dense-re-key contract for gappy trained codebooks. */
class IvfPqIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus() = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    .select($"vec_id", $"embedding")

  private def seedsOf(e: org.apache.spark.sql.DataFrame) =
    e.where($"vec_id" < 16)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))

  private def queriesOf(e: org.apache.spark.sql.DataFrame) =
    e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))

  private def served(p: String, e: org.apache.spark.sql.DataFrame) =
    IvfPqIndex.serveAll(spark, p, queriesOf(e), k = 5, nProbe = 4)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq

  test("IVFADC delta segments: incremental residual-encoded ingest serves bit-identically; replay/torn/compact contracts hold") {
    // write (base = one third) + two committed delta epochs against
    // the STORED trained state must serve exactly the in-memory
    // trajectory over the union — assignment and codes are pure
    // functions of (vector, centroids, codebook), and ints / float32
    // centroids / double residual codewords round-trip parquet exactly.
    val e = corpus()
    val seeds = seedsOf(e)
    val cb = Similarity.ivfPqSeedCodebook(e, seeds)
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc").toString
    IvfPqIndex.write(e.where($"vec_id" % 3 === 0), seeds, cb, p)
    IvfPqIndex.appendEpoch(spark, p, 0L, e.where($"vec_id" % 3 === 1))
    IvfPqIndex.appendEpoch(spark, p, 1L, e.where($"vec_id" % 3 === 2))
    val want = Similarity.ivfPqKnn(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served(p, e) == want && want.nonEmpty,
      "persisted IVFADC index diverges from the in-memory operator")
    // replayed epoch: no-op (nothing written, serving unchanged)
    assert(!IvfPqIndex.appendEpoch(spark, p, 1L, e.where($"vec_id" % 3 === 2)))
    assert(served(p, e) == want, "replayed epoch changed the IVFADC index")
    // torn segment: data written, no marker -> invisible to serving
    graft.sources.FileSources.writePartitionedParquet(
      Seq((999999L, 0, 0, 0, 0, 0L)).toDF("vec_id", "c0", "c1", "c2", "c3", "c_id"),
      s"$p/deltas/2", partitionCols = Seq("c_id"))
    assert(served(p, e) == want, "torn (uncommitted) IVFADC segment leaked into serving")
    // compact + gc: fold into generation 1, retire gen 0 + delta data —
    // the partition-pruned c_id layout must survive the rewrite
    IvfPqIndex.compact(spark, p)
    IvfPqIndex.gc(spark, p)
    assert(served(p, e) == want, "IVFADC compaction/gc changed serving results")
    assert(!new java.io.File(s"$p/base/0").exists,
      "superseded base generation not retired by gc")
    // the torn epoch's dir was reclaimed by gc; its replay must commit
    assert(IvfPqIndex.appendEpoch(spark, p, 2L, e.where($"vec_id" < 0)),
      "the torn epoch must be committable by its replay after gc")
    // ...and that replay is an EMPTY epoch (nothing matched): a
    // partitioned write of it lands no data file, so its schema
    // sidecar alone must keep readAll/serveAll/compact working
    assert(served(p, e) == want, "an empty committed epoch broke serving")
    IvfPqIndex.compact(spark, p)
    IvfPqIndex.gc(spark, p)
    assert(served(p, e) == want, "compacting over an empty epoch changed serving")
  }

  test("IVFADC compaction race: a reader between base-rewrite and marker swap double-counts nothing") {
    val e = corpus()
    val seeds = seedsOf(e)
    val cb = Similarity.ivfPqSeedCodebook(e, seeds)
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_race").toString
    IvfPqIndex.write(e.where($"vec_id" % 2 === 0), seeds, cb, p)
    IvfPqIndex.appendEpoch(spark, p, 0L, e.where($"vec_id" % 2 === 1))
    val want = served(p, e)
    // compact STEP 1 only: write the merged view to base/1, NO marker
    IvfPqIndex.writeSegment(IvfPqIndex.readAll(spark, p), s"$p/base/1")
    assert(served(p, e) == want,
      "reader between compact's base-rewrite and marker swap diverged")
    val dup = IvfPqIndex.readAll(spark, p)
      .groupBy($"vec_id").count().where($"count" > 1).count()
    assert(dup == 0, "a vector appears in more than one live segment")
    // STEP 2: the marker lands -> the new generation serves, deltas fold
    graft.operators.LsmSegments.writeGenMarker(spark, p, 1L, 0L)
    assert(served(p, e) == want, "generation swap changed serving results")
    val dup2 = IvfPqIndex.readAll(spark, p)
      .groupBy($"vec_id").count().where($"count" > 1).count()
    assert(dup2 == 0, "post-swap snapshot double-counts a vector")
    IvfPqIndex.gc(spark, p)
    assert(served(p, e) == want, "gc changed serving results")
  }

  test("TRAINED state persisted end-to-end: write/append/compact/gc serves bit-identically to the in-memory trained trajectory") {
    // the production shape: Lloyd-train both halves once
    // (ivfPqTrainState), persist, base codes from a third, two delta
    // epochs encoded against the STORED state, compact + gc — must
    // equal ivfPqKnnTrained over the full corpus (encode is a pure
    // function of (vector, stored state); float32 trained state and
    // int codes round-trip parquet exactly)
    val e = corpus().select($"vec_id", $"embedding")
    val (centroids, cbPerM) = Similarity.ivfPqTrainState(e)
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_tr").toString
    IvfPqIndex.writeTrained(e.where($"vec_id" % 3 === 0), centroids, cbPerM, p)
    graft.operators.Storage.unpersistLocalCheckpoint(centroids)
    graft.operators.Storage.unpersistLocalCheckpoint(cbPerM)
    IvfPqIndex.appendEpoch(spark, p, 0L, e.where($"vec_id" % 3 === 1))
    IvfPqIndex.appendEpoch(spark, p, 1L, e.where($"vec_id" % 3 === 2))
    val want = Similarity.ivfPqKnnTrained(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served(p, e) == want && want.nonEmpty,
      "persisted TRAINED IVFADC diverges from the in-memory trained trajectory")
    IvfPqIndex.compact(spark, p)
    IvfPqIndex.gc(spark, p)
    assert(served(p, e) == want,
      "compaction/gc changed trained-IVFADC serving results")
    // replay no-op holds for the trained form too
    assert(!IvfPqIndex.appendEpoch(spark, p, 1L, e.where($"vec_id" % 3 === 2)))
    assert(served(p, e) == want, "replayed epoch changed the trained index")
  }

  test("compressed (PQ) semantic probe equals the uncompressed stage when the shortlist covers the lists") {
    // recall through the ADC shortlist is 100% by construction here:
    // 64 indexed vectors over 16 lists with shortlist = 64 means every
    // same-list candidate is shortlisted, so the exact-verify stage
    // sees exactly the uncompressed probe's candidate set and the two
    // stages must emit the IDENTICAL pair set (cosines computed from
    // the same raw floats on both sides)
    import graft.operators.IvfIndex
    val e = corpus().select($"vec_id", $"embedding")
    val idx = e.where($"vec_id" < 64)
    val seeds = seedsOf(e)
    val cb = Similarity.ivfPqSeedCodebook(e, seeds)
    val shard = e.where($"vec_id" % 7 === 0 && $"vec_id" < 64)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val p1 = java.nio.file.Files.createTempDirectory("graft_sem_raw").toString
    IvfIndex.write(idx, seeds, p1)
    val want = IvfIndex.probeSemantic(spark, p1, shard, threshold = 0.95)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val p2 = java.nio.file.Files.createTempDirectory("graft_sem_pq").toString
    IvfPqIndex.write(idx, seeds, cb, p2)
    val got = IvfPqIndex.probeSemantic(spark, p2, shard,
      vectorSource = e, threshold = 0.95, shortlist = 64)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(want.nonEmpty, "fixture must contain semantic pairs (exact copies)")
    assert(got == want,
      s"compressed probe diverged from the uncompressed stage: got $got want $want")
    // an INCOMPLETE vector source (decision log missing a shortlisted
    // indexed id) must fail loudly, not silently drop qualifying pairs
    val holed = e.where($"vec_id" =!= want.head._1)
    val ex = intercept[Exception] {
      IvfPqIndex.probeSemantic(spark, p2, shard,
        vectorSource = holed, threshold = 0.95, shortlist = 64).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("vectorSource is missing"),
      s"expected the loud mismatch error, got: $msgs")
  }

  test("a gappy trained codebook is re-keyed dense on write and serves like its dense equivalent") {
    // ADC scoring is positional (element_at over cw_k-sorted LUTs) —
    // a trained codebook with holes (an emptied cluster) must not
    // silently misindex. write() re-keys order-preserving, so spreading
    // the seed keys out by 2 (same codewords, same order) must produce
    // the IDENTICAL index — and every served distance is non-null.
    val e = corpus()
    val seeds = seedsOf(e)
    val cb = Similarity.ivfPqSeedCodebook(e, seeds)
    val gappy = cb.select(($"cw_k" * 2).cast("int").as("cw_k"), $"cw")
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_gap").toString
    IvfPqIndex.write(e, seeds, gappy, p)
    val got = served(p, e)
    val want = Similarity.ivfPqKnn(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == want && got.nonEmpty,
      "gappy codebook diverged from its dense order-preserving equivalent")
    assert(got.forall(r => !r._4.isNaN), "null/NaN ADC distance leaked through")
  }
}
