package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, MinHashIndex}

/** The persisted near-dup index ([[graft.operators.MinHashIndex]]):
  * the LSM delta-segment protocol applied to MinHash-LSH dedup. The
  * contract mirrors the ANN tiers' — incremental serve bit-identical
  * to the batch operator over the union corpus, replayed epochs
  * skipped, torn segments invisible, compaction/gc result-preserving —
  * plus the probe ("admission check") restriction law. */
class MinHashIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .withColumn("source", lit("test"))

  // near-dup families engineered to STRADDLE the base/delta split:
  // 1≈2 (both base), 3≈10 (base vs delta epoch 0), 11≈12 (both
  // deltas, across epochs), 4/13 unrelated singletons
  private def corpus = docs(
    (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
    (2L, (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"),
    (3L, (50 to 90).map(i => s"mid$i").mkString(" ")),
    (4L, (200 to 240).map(i => s"lone$i").mkString(" ")),
    (10L, (50 to 89).map(i => s"mid$i").mkString(" ") + " midY"),
    (11L, (300 to 340).map(i => s"new$i").mkString(" ")),
    (12L, (300 to 339).map(i => s"new$i").mkString(" ") + " newZ"),
    (13L, (400 to 440).map(i => s"other$i").mkString(" ")))

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select(col("a_id"), col("b_id"), round(col("jaccard"), 6))
      .as[(Long, Long, Double)].collect().toSet

  test("incremental serve == batch minhashLsh over the union; replay/torn/compact/gc laws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_spec_")
    val path = dir.toAbsolutePath.toString
    val base = corpus.where($"doc_id" <= 4)
    val e0 = corpus.where($"doc_id" === 10L || $"doc_id" === 11L)
    val e1 = corpus.where($"doc_id" >= 12L)

    MinHashIndex.write(base, path)
    assert(MinHashIndex.appendEpoch(spark, path, 0L, e0))
    assert(MinHashIndex.appendEpoch(spark, path, 1L, e1))

    val want = pairsOf(Dedup.minhashLsh(corpus))
    // the engineered families were actually found (incl. the
    // cross-segment 3–10 and cross-epoch 11–12 pairs)
    assert(want.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 10L), (11L, 12L)))
    assert(pairsOf(MinHashIndex.servePairs(spark, path)) == want,
      "base ∪ delta serve diverged from the batch operator")

    // replayed epoch: marker exists -> skipped, results unchanged
    assert(!MinHashIndex.appendEpoch(spark, path, 0L, e1))
    assert(pairsOf(MinHashIndex.servePairs(spark, path)) == want)

    // torn segment: delta data written, marker lost -> invisible
    MinHashIndex.fingerprints(docs((99L, (1 to 40).map(i => s"tok$i").mkString(" "))),
        3, 16, 8)
      .write.mode("overwrite").parquet(s"$path/deltas/2")
    assert(pairsOf(MinHashIndex.servePairs(spark, path)) == want,
      "torn (uncommitted) segment leaked into serving")

    // compaction folds deltas into a new generation, preserving results;
    // gc retires folded data but keeps epoch markers (the replay guard)
    MinHashIndex.compact(spark, path)
    assert(pairsOf(MinHashIndex.servePairs(spark, path)) == want)
    MinHashIndex.gc(spark, path)
    assert(!new java.io.File(s"$path/deltas/0").exists &&
      !new java.io.File(s"$path/deltas/1").exists,
      "folded delta data not retired by gc")
    assert(new java.io.File(s"$path/epochs/0").exists &&
      new java.io.File(s"$path/epochs/1").exists,
      "epoch commit markers must outlive compaction")
    assert(!MinHashIndex.appendEpoch(spark, path, 1L, e0))
    assert(pairsOf(MinHashIndex.servePairs(spark, path)) == want)
  }

  test("compaction race: a reader between base-rewrite and marker swap double-counts nothing") {
    // the generation-pointer protocol on the dedup tier: compact
    // writes base/<gen+1> FIRST and its gens/ marker second; a serve
    // interleaved between the two steps must resolve the OLD
    // generation + deltas — a double-counted fingerprint would
    // duplicate band rows, re-pairing docs and potentially emitting
    // (x, x) or duplicate pairs
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_race_")
    val path = dir.toAbsolutePath.toString
    MinHashIndex.write(corpus.where($"doc_id" <= 4), path)
    MinHashIndex.appendEpoch(spark, path, 0L, corpus.where($"doc_id" >= 10L))
    def served() = pairsOf(MinHashIndex.servePairs(spark, path))
    val want = served()
    assert(want.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 10L), (11L, 12L)))
    // compact STEP 1 only: write the merged view to base/1, NO marker
    MinHashIndex.writeSegment(MinHashIndex.readAll(spark, path), s"$path/base/1")
    assert(served() == want,
      "reader between compact's base-rewrite and marker swap diverged")
    assert(MinHashIndex.readAll(spark, path)
      .groupBy($"doc_id").count().where($"count" > 1).count() == 0,
      "a fingerprint appears in more than one live segment")
    // STEP 2: the marker lands -> the new generation serves
    graft.operators.LsmSegments.writeGenMarker(spark, path, 1L, 0L)
    assert(served() == want, "generation swap changed serving results")
    MinHashIndex.gc(spark, path)
    assert(served() == want, "gc changed serving results")
    assert(!new java.io.File(s"$path/base/0").exists,
      "superseded base generation not retired by gc")
  }

  test("probePairs == batch pairs touching the shard (and only those)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_probe_spec_")
    val path = dir.toAbsolutePath.toString
    // index holds 1,2,3,4 (contains the base-base near-dup 1–2);
    // shard holds 10,11,12,13 (shard-base pair 3–10, shard-shard pair
    // 11–12)
    val indexed = corpus.where($"doc_id" <= 4)
    val shard = corpus.where($"doc_id" >= 10L)
    MinHashIndex.write(indexed, path)

    val got = pairsOf(MinHashIndex.probePairs(spark, path, shard))
    val batchTouching = pairsOf(
      Dedup.minhashLsh(corpus)
        .where($"a_id" >= 10L || $"b_id" >= 10L))
    assert(batchTouching.map(p => (p._1, p._2)) == Set((3L, 10L), (11L, 12L)))
    assert(got == batchTouching,
      "probe diverged from the batch pair set restricted to the shard")

    // the admission workflow closes: probing is read-only, and
    // ingesting the probed shard afterwards serves the full batch
    // pair set over the union
    assert(MinHashIndex.appendEpoch(spark, path, 0L, shard))
    assert(pairsOf(MinHashIndex.servePairs(spark, path)) ==
      pairsOf(Dedup.minhashLsh(corpus)),
      "probe-then-ingest did not converge to the batch pair set")
  }

  test("probePairs fingerprints the shard exactly once (one kernel pass per shard row)") {
    // the probe plan consumes the shard fingerprints on three branches
    // (bucket keys / banding union / verify sets); before the r12 fix
    // each branch re-ran ShingleSet/MinHashSignature over the shard.
    // Pinned behaviorally: a counting map on the shard source must
    // fire once per row, total — not 3x.
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_once_")
    val path = dir.toAbsolutePath.toString
    MinHashIndex.write(corpus.where($"doc_id" <= 4), path)
    val acc = spark.sparkContext.longAccumulator("shard_scans")
    val shardRows = corpus.where($"doc_id" >= 10L)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val shard = shardRows.toDS()
      .map { r => acc.add(1); r }
      .toDF("doc_id", "text")
    val got = pairsOf(MinHashIndex.probePairs(spark, path, shard))
    assert(got.map(p => (p._1, p._2)) == Set((3L, 10L), (11L, 12L)))
    assert(acc.value == shardRows.size,
      s"shard source evaluated ${acc.value} row-passes for " +
        s"${shardRows.size} rows — the fingerprint pass is not single")
  }
}
