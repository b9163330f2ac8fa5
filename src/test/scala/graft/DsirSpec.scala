package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** DSIR importance resampling (Xie et al. 2023) — semantic properties
  * the DuckDB hash oracle can't express directly: target enrichment
  * (the whole point of the method), partitioning-invariance of the
  * derandomized Gumbel draw, and the feature-count identity. */
class DsirSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val isEn = col("lang") === "en"
  private lazy val docs = Tables.documents(spark, TestSpark.sfDir).cache()
  private lazy val weights = Dsir.importanceWeights(docs, isEn, nBuckets = 256).cache()

  test("n_feats is exactly unigrams + bigrams = 2·tokens − 1 per doc") {
    val bad = weights
      .join(docs.select(col("doc_id"),
        (size(split(lower(col("text")), "\\s+")) * 2 - 1).as("expect")), "doc_id")
      .where(col("n_feats") =!= col("expect"))
      .count()
    assert(bad == 0)
  }

  test("every doc is scored (weights cover the corpus)") {
    assert(weights.count() == docs.count())
  }

  test("target slice scores higher on average than the rest") {
    val Array(enAvg, otherAvg) = weights
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(isEn.as("t")).agg(avg("logw").as("m"))
      .orderBy(col("t").desc).collect().map(_.getDouble(1))
    assert(enAvg > otherAvg,
      s"importance weights do not favor the target slice: en=$enAvg other=$otherAvg")
  }

  test("resampled set is enriched in target docs vs the corpus base rate") {
    val k = 100
    val picked = Dsir.gumbelTopK(weights, k)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val pickedEnRate = picked.where(isEn).count().toDouble / k
    val baseEnRate = docs.where(isEn).count().toDouble / docs.count()
    assert(pickedEnRate > baseEnRate,
      s"Gumbel top-k not enriched: picked=$pickedEnRate base=$baseEnRate")
  }

  test("Gumbel draw is partitioning-invariant (derandomized)") {
    val a = Dsir.gumbelTopK(weights, 50).collect().toSet
    val b = Dsir.gumbelTopK(weights.repartition(17, col("n_feats")), 50)
      .collect().toSet
    assert(a == b)
  }

  test("streaming DSIR gate == batch scores (stateless, model broadcast)") {
    // fit the model on the batch corpus, then replay the same docs as
    // a 3-micro-batch file stream through the stateless gate: every
    // admitted (doc_id, logw) must equal the batch scoreAgainst
    // bit-for-bit (decimal accumulation is associative-exact), and
    // every batch doc clearing the threshold must be admitted.
    val nB = 256
    val minLogw = 0.0
    val model = Dsir.logRatioModel(docs, isEn, nB)
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    docs.select("doc_id", "lang", "text").repartition(3)
      .write.parquet(s"$dir/src")
    val stream = spark.readStream
      .schema(docs.select("doc_id", "lang", "text").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/src")
    val q = graft.streaming.StreamingOps.dsirGate(stream, model, nB, minLogw)
      .select("doc_id", "logw")
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Dsir.scoreAgainst(model, docs, nB)
      .where(col("logw") >= minLogw)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("gate matches batch on degenerate docs: zero-feature text is never admitted") {
    // truly-empty text has NO features (one empty token, no bigram):
    // the batch scorer emits no row for it, so the in-row score must
    // be NULL — a 0 would slip it through any gate with minLogw <= 0.
    // Whitespace-only text DOES carry one feature (the bigram of two
    // empty tokens renders as " " under the corpus-wide shingle
    // definition) and must be admitted iff batch scores it.
    val model = Dsir.logRatioModel(docs, isEn, 256)
    val degenerate = Seq((900001L, ""), (900002L, "   "), (900003L, "real tokens here"))
      .toDF("doc_id", "text")
    val admitted = graft.streaming.StreamingOps
      .dsirGate(degenerate, model, 256, minLogw = -1e9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchScored = Dsir.scoreAgainst(model, degenerate, 256)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == batchScored, s"stream $admitted != batch $batchScored")
    assert(!admitted.contains(900001L), s"empty doc admitted: $admitted")
    assert(admitted.contains(900003L))
  }

  test("incremental stats fold == one-shot batch fit, exactly") {
    // the dense counts are the model's additive sufficient statistic:
    // folding any batch split must land on the identical model
    val nB = 256
    var state = Dsir.emptyStats(spark, nB)
    (0 until 3).foreach { i =>
      val next = Dsir.updateStats(
        state, docs.where(col("doc_id") % 3 === i), isEn, nB)
      graft.operators.Storage.unpersistLocalCheckpoint(state)
      state = next
    }
    val inc = Dsir.lrFromStats(state, nB)
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    val one = Dsir.logRatioModel(docs, isEn, nB)
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    assert(inc == one)
    graft.operators.Storage.unpersistLocalCheckpoint(state)
  }

  test("dsirModelStream maintains the model across micro-batches == batch fit") {
    // fit continuously over a 3-file stream; the LAST epoch's model
    // (all data seen) must equal the one-shot fit, and composing it
    // with the stateless gate reproduces the batch scores
    val nB = 256
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir_fit").toString
    docs.select("doc_id", "lang", "text").repartition(3)
      .write.parquet(s"$dir/src")
    val stream = spark.readStream
      .schema(docs.select("doc_id", "lang", "text").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/src")
    @volatile var last: Option[Array[(Long, java.math.BigDecimal)]] = None
    @volatile var epochs = 0
    val q = graft.streaming.StreamingOps.dsirModelStream(
      stream, col("lang") === "en", nB,
      Map("checkpointLocation" -> s"$dir/chk")) { (model, _) =>
      last = Some(model.collect().map(r => (r.getLong(0), r.getDecimal(1))))
      epochs += 1
    }
    try q.awaitTermination(120000) finally q.stop()
    assert(epochs == 3, s"expected 3 micro-batches, saw $epochs")
    val got = last.get.toMap
    val want = Dsir.logRatioModel(docs, isEn, nB)
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    assert(got == want)
  }

  test("durable DSIR fit: restart resumes, replayed epoch never double-counts") {
    // three acts like the durable graph maintenance specs: (1) ingest
    // half the corpus, stop; (2) restart with the rest — counts must
    // RESUME from the committed generation, not restart from zero
    // (the failure mode of the session-scoped stream under a durable
    // checkpoint); (3) lose the last stream commit (crash between
    // state commit and stream commit) and restart — the replayed
    // epoch must be skipped or every count in it doubles.
    val nB = 256
    val base = java.nio.file.Files.createTempDirectory("graft_dur_dsir").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    @volatile var last: Map[Long, java.math.BigDecimal] = Map.empty
    val cols = docs.select("doc_id", "lang", "text")
    def start() = graft.streaming.StreamingOps.durableDsirModelStream(
      spark.readStream.schema(cols.schema).parquet(src),
      isEn, nB, st, Map("checkpointLocation" -> ckpt)) { (model, _) =>
      last = model.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    }
    def expect(part: org.apache.spark.sql.DataFrame) =
      Dsir.logRatioModel(part, isEn, nB)
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    cols.where(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(last == expect(docs.where(col("doc_id") % 2 === 0)))
    cols.where(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(last == expect(docs),
      "restart did not resume from the committed count generation")
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val lastCommit = commits.last
    assert(lastCommit.delete())
    new java.io.File(s"$ckpt/commits/.${lastCommit.getName}.crc").delete()
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(last == expect(docs), "replayed epoch double-counted the fold")
  }

  test("durable DSIR fit refuses a fresh checkpoint lineage against non-empty state") {
    // the StreamingOps.ingestStream guard, mirrored: a stream started WITHOUT a
    // durable checkpointLocation restarts epoch ids at 0, which match
    // the old generation's commit markers — new batches would be
    // silently never folded (or folded against mismatched batch
    // boundaries). Must fail fast, not corrupt the counts.
    val nB = 256
    val base = java.nio.file.Files.createTempDirectory("graft_dur_dsir_g").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    val cols = docs.select("doc_id", "lang", "text")
    cols.where(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    val q1 = graft.streaming.StreamingOps.durableDsirModelStream(
      spark.readStream.schema(cols.schema).parquet(src),
      isEn, nB, st, Map("checkpointLocation" -> ckpt)) { (_, _) => }
    try q1.processAllAvailable() finally q1.stop()
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.durableDsirModelStream(
        spark.readStream.schema(cols.schema).parquet(src),
        isEn, nB, st) { (_, _) => }
    }
    assert(err.getMessage.contains("checkpointLocation"),
      s"guard message unhelpful: ${err.getMessage}")
    // the original lineage still resumes fine
    val q2 = graft.streaming.StreamingOps.durableDsirModelStream(
      spark.readStream.schema(cols.schema).parquet(src),
      isEn, nB, st, Map("checkpointLocation" -> ckpt)) { (_, _) => }
    try q2.processAllAvailable() finally q2.stop()
  }

  test("fit-continuously / serve-current: the per-epoch durable model gates a second stream exactly") {
    // the serving story durableDsirModelStream's scaladoc promises,
    // composed end-to-end: stream 1 folds fit batches into the durable
    // count state and publishes the refreshed model per epoch; stream
    // 2 admits docs through dsirGate under WHATEVER model is current.
    // Pin: docs admitted under the epoch-N model match batch admission
    // with the epoch-N one-shot fit, bit-for-bit in logw — and the
    // model actually advances between epochs.
    val nB = 256
    val base = java.nio.file.Files.createTempDirectory("graft_dsir_serve").toString
    val (srcFit, ckptFit, st) = (s"$base/fit", s"$base/chkf", s"$base/state")
    val (srcServe, ckptServe) = (s"$base/serve", s"$base/chks")
    val cols = docs.select("doc_id", "lang", "text")
    val minLogw = 0.0
    // file-source streams refuse a missing dir at start
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcFit))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcServe))
    @volatile var currentModel: org.apache.spark.sql.DataFrame = null
    val qFit = graft.streaming.StreamingOps.durableDsirModelStream(
      spark.readStream.schema(cols.schema).parquet(srcFit),
      isEn, nB, st, Map("checkpointLocation" -> ckptFit)) { (model, _) =>
      currentModel = model
    }
    val admittedByEpoch =
      scala.collection.mutable.ArrayBuffer[Map[Long, Double]]()
    val qServe = spark.readStream.schema(cols.schema).parquet(srcServe)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckptServe)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val adm = graft.streaming.StreamingOps.dsirGate(
          batch.toDF(), currentModel, nB, minLogw)
          .select("doc_id", "logw").as[(Long, Double)].collect().toMap
        admittedByEpoch.synchronized { admittedByEpoch += adm }
        ()
      }
      .start()
    try {
      val fitA = cols.where(col("doc_id") % 2 === 0)
      val serve1 = cols.where(col("doc_id") % 10 === 1)
      val serve2 = cols.where(col("doc_id") % 10 === 3)
      def batchAdmit(fitSoFar: org.apache.spark.sql.DataFrame,
          serveDocs: org.apache.spark.sql.DataFrame): Map[Long, Double] =
        graft.streaming.StreamingOps.dsirGate(
          serveDocs, Dsir.logRatioModel(fitSoFar, isEn, nB), nB, minLogw)
          .select("doc_id", "logw").as[(Long, Double)].collect().toMap
      // epoch 1: fit on half the corpus, serve batch 1 under that model
      fitA.write.mode("append").parquet(srcFit)
      qFit.processAllAvailable()
      val m1 = currentModel.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      // ONE file per serve epoch: the serve stream is already running
      // and polls the directory, so a multi-part write can split one
      // intended epoch across two micro-batches (a trigger fires on a
      // partial listing mid-write) and `.last` would see only the
      // remainder chunk. A single renamed-in part file is atomic to
      // the listing.
      serve1.coalesce(1).write.mode("append").parquet(srcServe)
      qServe.processAllAvailable()
      val want1 = batchAdmit(fitA, serve1)
      assert(admittedByEpoch.synchronized(admittedByEpoch.last) == want1,
        "epoch-1 admission diverges from batch admission under the epoch-1 fit")
      assert(want1.nonEmpty && want1.size < serve1.count(),
        s"gate not discriminating: ${want1.size} of ${serve1.count()} admitted")
      // epoch 2: fold the other half, serve batch 2 under the ADVANCED model
      cols.where(col("doc_id") % 2 === 1).write.mode("append").parquet(srcFit)
      qFit.processAllAvailable()
      val m2 = currentModel.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      assert(m1 != m2, "model did not advance after the second fit epoch")
      serve2.coalesce(1).write.mode("append").parquet(srcServe)
      qServe.processAllAvailable()
      val want2 = batchAdmit(cols, serve2)
      assert(admittedByEpoch.synchronized(admittedByEpoch.last) == want2,
        "epoch-2 admission diverges from batch admission under the epoch-2 fit")
    } finally { qFit.stop(); qServe.stop() }
  }

  test("log-ratio model reacts to the target choice, not just doc length") {
    // swapping the target to the complement slice must invert the
    // enrichment direction — guards against a weight that's secretly
    // a length or frequency artifact
    val inv = Dsir.importanceWeights(docs, !isEn, nBuckets = 256)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(isEn.as("t")).agg(avg("logw").as("m"))
      .orderBy(col("t").desc).collect().map(_.getDouble(1))
    assert(inv(0) < inv(1),
      s"complement-target weights still favor en: ${inv.mkString(",")}")
  }
}
