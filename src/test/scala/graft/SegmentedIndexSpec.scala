package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators._
import graft.streaming.StreamingOps

/** The shared LSM code every persisted tier runs through
  * ([[graft.operators.SegmentedIndex]] and
  * [[graft.streaming.StreamingOps.ingestStream]]), pinned tier by tier:
  * each tier's input is split on a key into thirds — the base, then
  * epochs 0 and 1 — and driven once through the direct API and once
  * through the ingest stream. */
class SegmentedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_seg_$tag").toString

  private lazy val docs = spark.read
    .parquet(s"${TestSpark.sfDir}/documents.parquet")
    .select($"doc_id", $"text").localCheckpoint(true)
  private lazy val embs = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    .select($"vec_id", $"embedding").localCheckpoint(true)
  private lazy val seeds = embs.where($"vec_id" < 16)
    .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))

  /** One tier: its index, its base write, its input rows and the key
    * whose residue mod 3 picks base (0), epoch 0 (1) and epoch 1 (2).
    * MaxSim's key is the document, so every epoch is document-atomic. */
  private case class Tier(
      index: SegmentedIndex, write: (DataFrame, String) => Unit,
      input: () => DataFrame, key: Column)

  private val tiers = Seq(
    Tier(IvfIndex, (d, p) => IvfIndex.write(d, seeds, p), () => embs, $"vec_id"),
    Tier(Sq8Index, Sq8Index.write, () => embs, $"vec_id"),
    Tier(PqIndex, (d, p) => PqIndex.write(d,
      embs.where($"vec_id" < 16).select($"vec_id".cast("int").as("cw_k"),
        $"embedding".as("cw")), p), () => embs, $"vec_id"),
    Tier(IvfPqIndex, (d, p) => IvfPqIndex.write(d, seeds,
      Similarity.ivfPqSeedCodebook(embs, seeds), p), () => embs, $"vec_id"),
    Tier(BinaryIndex, BinaryIndex.write, () => embs, $"vec_id"),
    Tier(MaxSimIndex, (d, p) => MaxSimIndex.write(d, p, tokensPerDoc = 4),
      () => embs, floor($"vec_id" / 4).cast("long")),
    Tier(MinHashIndex, (d, p) => MinHashIndex.write(d, p), () => docs, $"doc_id"),
    Tier(ContentHashIndex, ContentHashIndex.write, () => docs, $"doc_id"),
    Tier(HammingIndex, HammingIndex.write, () => spark.range(60).select(
      $"id".as("doc_id"), ($"id" % 5).cast("int").as("c0"),
      ($"id" % 7).cast("int").as("c1"), ($"id" % 3).cast("int").as("c2"),
      lit(1).as("c3")), $"doc_id"),
    Tier(RecordIndex, RecordIndex.write, () => spark.range(60).select(
      $"id", concat(lit("name"), ($"id" % 9).cast("string")).as("name"),
      concat(lit("b"), ($"id" % 4).cast("string")).as("block")), $"id"))

  private def name(t: Tier) = t.index.getClass.getSimpleName.stripSuffix("$")

  private def part(t: Tier, m: Int): DataFrame = t.input().where(t.key % 3 === m)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** (relative path, length, mtime) of every file under `root`. */
  private def files(root: String): Set[(String, Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (base.relativize(f).toString, f.toFile.length, f.toFile.lastModified))
        .toSet
    } finally s.close()
  }

  /** Every dir under `root` holding a schema sidecar. */
  private def artifacts(root: String): Seq[String] =
    files(root).toSeq.map(_._1).filter(_.endsWith("_schema.json"))
      .map(f => java.nio.file.Paths.get(root, f).getParent.toString).sorted

  /** The carried schema of each artifact under `root` equals what a
    * fresh inference reads, nullability and metadata included, except
    * that the c_id partition column, inferred as int from its dir
    * names, is declared long. */
  private def assertCarriedEqualsInferred(root: String): Unit = {
    val dirs = artifacts(root)
    assert(dirs.nonEmpty, s"no artifact under $root carries a schema")
    dirs.foreach { d =>
      val inferred = spark.read.parquet(d).schema
      val want = StructType(inferred.map(f =>
        if (f.name == "c_id") f.copy(dataType = LongType) else f))
      val carried = LsmSegments.carriedSchema(spark, Seq(d))
      assert(carried == want, s"$d: carried $carried, inferred $inferred")
    }
  }

  tiers.foreach { t =>
    test(s"${name(t)}: every artifact carries its schema and a snapshot read runs no job") {
      val p = tmp(s"${name(t)}_schema")
      t.write(part(t, 0), p)
      assert(t.index.appendEpoch(spark, p, 0L, part(t, 1)))
      assert(artifacts(p).exists(_.endsWith("deltas/0")))
      assertCarriedEqualsInferred(p)
      assert(JobCount(spark)(t.index.readAll(spark, p)) == 0)
      assert(JobCount(spark)(t.index.readAsOf(spark, p, -1L)) == 0)
    }

    test(s"${name(t)}: append, replay, as-of, compact and gc through the shared code") {
      val p = tmp(name(t))
      t.write(part(t, 0), p)
      val base = rows(t.index.readAll(spark, p))
      assert(t.index.appendEpoch(spark, p, 0L, part(t, 1)))
      assert(t.index.appendEpoch(spark, p, 1L, part(t, 2)))
      val before = files(p)
      assert(!t.index.appendEpoch(spark, p, 1L, part(t, 1)),
        "a committed epoch was re-appended")
      assert(files(p) == before, "a replayed epoch wrote files")
      assert(t.index.committedEpochs(spark, p) == Seq(0L, 1L))
      val live = rows(t.index.readAll(spark, p))
      assert(live == rows(t.index.readAsOf(spark, p, 1L)))
      assert(rows(t.index.readAsOf(spark, p, -1L)) == base)
      assert(live.size > base.size, "the epochs added no rows")
      t.index.compact(spark, p)
      assert(LsmSegments.current(spark, p) == ((1L, 1L)))
      assert(rows(t.index.readAll(spark, p)) == live)
      t.index.gc(spark, p)
      assert(!new java.io.File(s"$p/base/0").exists && !new java.io.File(s"$p/deltas/1").exists,
        "gc left folded segments behind")
      assert(rows(t.index.readAll(spark, p)) == live)
      val e = intercept[IllegalArgumentException](t.index.readAsOf(spark, p, 0L))
      assert(e.getMessage.contains("horizon"), e.getMessage)
    }

    test(s"${name(t)}: ingestStream commits each micro-batch once and compacts in the loop") {
      implicit val sqlCtx = spark.sqlContext
      val p = tmp(s"${name(t)}_s")
      t.write(part(t, 0), p)
      val cols = t.input().columns.map(col)
      // each micro-batch is one residue class of the key, joined back to
      // the static input
      def stream(mem: MemoryStream[Int]) = mem.toDF().toDF("m")
        .join(t.input().withColumn("m", (t.key % 3).cast("int")), "m")
        .select(cols: _*)
      val mem = MemoryStream[Int]
      val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
      val q = StreamingOps.ingestStream(t.index, stream(mem), p, compactEvery = 2) {
        (ep, ok) => applied.synchronized { applied += ((ep, ok)) }
      }
      try {
        mem.addData(1); q.processAllAvailable()
        mem.addData(2); q.processAllAvailable()
      } finally q.stop()
      assert(applied.synchronized(applied.toList) == List((0L, true), (1L, true)))
      assert(t.index.committedEpochs(spark, p) == Seq(0L, 1L))
      assert(LsmSegments.current(spark, p) == ((1L, 1L)),
        "compactEvery = 2 did not fold both epochs into generation 1")
      val live = rows(t.index.readAll(spark, p))
      assert(live == rows(t.index.readAsOf(spark, p, 1L)))
      val twin = tmp(s"${name(t)}_t")
      t.write(t.input(), twin)
      assert(live == rows(t.index.readAll(spark, twin)),
        "the streamed index differs from one written all at once")
      val e = intercept[IllegalArgumentException](
        StreamingOps.ingestStream(t.index, stream(MemoryStream[Int]), p)())
      assert(e.getMessage.contains("checkpointLocation"), e.getMessage)
    }
  }

  test("the admission decision log carries the schema a read infers") {
    val p = tmp("admitted")
    RecordAdmission.init(spark, p)
    RecordAdmission.admitEpoch(spark, p, 0L, spark.range(30).select(
      $"id", concat(lit("name"), ($"id" % 7).cast("string")).as("name"),
      concat(lit("b"), ($"id" % 3).cast("string")).as("block")))
    assert(artifacts(p).exists(_.endsWith("admitted/deltas/0")))
    assertCarriedEqualsInferred(p)
  }

  test("a committed segment without its schema sidecar fails, naming the segment") {
    val p = tmp("no_sidecar")
    Sq8Index.write(embs.where($"vec_id" % 2 === 0), p)
    assert(Sq8Index.appendEpoch(spark, p, 0L, embs.where($"vec_id" % 2 === 1)))
    java.nio.file.Files.delete(java.nio.file.Paths.get(p, "deltas", "0", "_schema.json"))
    val e = intercept[IllegalStateException](Sq8Index.readAll(spark, p))
    assert(e.getMessage.contains(s"$p/deltas/0"), e.getMessage)
  }

  test("compaction merges segment files: three cycles do not grow the base") {
    val p = tmp("sq8_files")
    def baseFiles(): Int = {
      val (base, _) = LsmSegments.liveSegments(spark, p)
      new java.io.File(base).listFiles().count(_.getName.endsWith(".parquet"))
    }
    // the base starts at one file per core, each epoch adds two files
    Sq8Index.write(embs.where($"vec_id" % 4 === 0).repartition(8), p)
    val start = baseFiles()
    assert(start == 8)
    (1 to 3).foreach { m =>
      assert(Sq8Index.appendEpoch(spark, p, m.toLong,
        embs.where($"vec_id" % 4 === m).repartition(2)))
      Sq8Index.compact(spark, p)
      assert(baseFiles() <= start, s"cycle $m grew the base to ${baseFiles()} files")
    }
    assert(Sq8Index.readAll(spark, p).count() == embs.count())
  }

  test("an empty IVF epoch commits and serves") {
    val p = tmp("ivf_empty")
    IvfIndex.write(embs, seeds, p)
    val queries = embs.where($"vec_id" < 4).select($"vec_id".as("query_id"), $"embedding".as("q"))
    def served() = rows(IvfIndex.serveAll(spark, p, queries, k = 5, nProbe = 2))
    val want = served()
    assert(IvfIndex.appendEpoch(spark, p, 0L, embs.where($"vec_id" < 0)))
    assert(IvfIndex.committedEpochs(spark, p) == Seq(0L))
    assert(IvfIndex.readAll(spark, p).schema("c_id").dataType == LongType)
    assert(served() == want && want.nonEmpty)
    IvfIndex.compact(spark, p)
    assert(served() == want)
  }
}
