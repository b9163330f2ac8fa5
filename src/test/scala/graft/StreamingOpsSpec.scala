package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, countDistinct, explode, floor, round}
import java.sql.Timestamp
import graft.streaming.StreamingOps

class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermarked tumbling window emits closed windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingOps.windowedEventCounts(df, watermark = "5 minutes", windowLen = "10 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(4), "click", 2.0))
      q.processAllAvailable()
      // advance event time far enough to close the 10:00 window
      mem.addData((3L, ts(59), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("event_type", "n").as[(String, Long)].collect().toSet
      assert(rows.contains(("click", 2L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = StreamingOps.dedupWithinWatermark(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData((1L, ts(1), "click"), (1L, ts(2), "click"), (2L, ts(3), "view"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("sessionize emits a closed session when a later event opens a new one") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.SessionEvent]
    val q = StreamingOps.sessionize(spark, mem.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // three events in one session, then a 49-minute gap opens a second
      mem.addData(
        StreamingOps.SessionEvent(7L, ts(0), "click"),
        StreamingOps.SessionEvent(7L, ts(2), "view"),
        StreamingOps.SessionEvent(7L, ts(5), "click"),
        StreamingOps.SessionEvent(7L, ts(54), "click"))
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .select("user_id", "n_events").as[(Long, Int)].collect()
      assert(sessions.toSeq == Seq((7L, 3)))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped, not double-counted") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingOps.windowedEventCounts(df, watermark = "5 minutes", windowLen = "10 minutes")
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      mem.addData((1L, ts(1), "click", 1.0))
      q.processAllAvailable()
      mem.addData((2L, ts(59), "view", 1.0)) // advances watermark to 10:54
      q.processAllAvailable()
      val afterClose = spark.table("late_out")
        .select("event_type", "n").as[(String, Long)].collect().toSet
      assert(afterClose.contains(("click", 1L)))
      // an event for the long-closed 10:00 window arrives — must be ignored
      mem.addData((3L, ts(2), "click", 1.0))
      q.processAllAvailable()
      mem.addData((4L, Timestamp.valueOf("2024-01-01 12:30:00"), "view", 1.0))
      q.processAllAvailable()
      val finalRows = spark.table("late_out")
        .select("event_type", "n").as[(String, Long)].collect().toList
      assert(finalRows.count(_ == ("click", 1L)) == 1, finalRows.toString)
      assert(!finalRows.contains(("click", 2L)))
    } finally q.stop()
  }

  test("streaming CMS state equals the batch-built sketch after every batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val df = mem.toDF().toDF("user_id")
    val q = StreamingOps.streamingCms(df, depth = 4, width = 32)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    def batchCms(keys: Seq[Long]) = {
      import spark.implicits._
      StreamingOps.streamingCms(keys.toDF("user_id"), depth = 4, width = 32)
        .as[(Int, Long, Long)].collect().toSet
    }
    try {
      val b1 = Seq(1L, 2L, 2L, 3L, 7L, 7L, 7L)
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.table("cms_out").as[(Int, Long, Long)].collect().toSet ==
        batchCms(b1))
      // second micro-batch: counters must ACCUMULATE (state carries),
      // matching one batch sketch over the union of both batches
      val b2 = Seq(2L, 9L, 9L, 1L)
      mem.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("cms_out").as[(Int, Long, Long)].collect().toSet
      assert(streamed == batchCms(b1 ++ b2))
      // state is bounded by depth x width, not by key cardinality
      assert(streamed.size <= 4 * 32)
    } finally q.stop()
  }

  test("streaming Bloom state equals the batch-built filter and probes correctly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bloom
    val mem = MemoryStream[Long]
    val df = mem.toDF().toDF("user_id")
    val q = StreamingOps.streamingBloom(df, words = 16, k = 3)
      .writeStream.format("memory").queryName("bloom_out")
      .outputMode("complete").start()
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(4L, 5L, 1L) // replayed key 1: bit_or is idempotent
      q.processAllAvailable()
      val streamed = spark.table("bloom_out")
      val batch = Bloom.build((1L to 5L).toDF("user_id"), "user_id",
        words = 16, k = 3)
      assert(streamed.as[(Int, Long)].collect().toSet ==
        batch.as[(Int, Long)].collect().toSet)
      // the snapshot probes through the batch-side probe path unchanged
      val probed = Bloom.maybeContains((1L to 5L).toDF("k"), "k",
        streamed, "maybe", words = 16, k = 3)
      assert(probed.where(!col("maybe")).count() == 0)
    } finally q.stop()
  }

  test("complete output mode re-emits the full aggregate each batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("event_id", "event_type")
    val q = df.groupBy("event_type").count()
      .writeStream.format("memory").queryName("complete_out")
      .outputMode("complete").start()
    try {
      mem.addData((1L, "click"), (2L, "click"))
      q.processAllAvailable()
      assert(spark.table("complete_out").as[(String, Long)].collect().toSet ==
        Set(("click", 2L)))
      mem.addData((3L, "view"))
      q.processAllAvailable()
      // complete mode: the whole result table, updated counts included
      assert(spark.table("complete_out").as[(String, Long)].collect().toSet ==
        Set(("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("update output mode re-emits a window's row as it grows (not only on close)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingOps.windowedEventCounts(df, watermark = "5 minutes", windowLen = "10 minutes")
      .writeStream.format("memory").queryName("upd_out").outputMode("update").start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(4), "click", 2.0))
      q.processAllAvailable()
      // same still-open window receives another event → update mode must
      // re-emit the grown row n=3 (append mode would emit nothing here)
      mem.addData((3L, ts(6), "click", 1.0))
      q.processAllAvailable()
      val emitted = spark.table("upd_out")
        .select("event_type", "n").as[(String, Long)].collect().toList
      assert(emitted.contains(("click", 2L)), s"first emission missing: $emitted")
      assert(emitted.contains(("click", 3L)), s"in-place update not re-emitted: $emitted")
    } finally q.stop()
  }

  test("console sink formats batches exactly (O14 golden)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val buf = new java.io.ByteArrayOutputStream()
    // the sink prints via scala.Console.out on the query's execution
    // thread; Console's DynamicVariable is inheritable, so a thread
    // started inside withOut (query.start() spawns it) is redirected
    scala.Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      val q = graft.sources.KafkaSources.toConsole(
        mem.toDF().toDF("id", "v")).start()
      try {
        mem.addData((1L, "alpha"), (2L, "b"))
        q.processAllAvailable()
      } finally q.stop()
    }
    val out = buf.toString("UTF-8")
    assert(out.contains("Batch: 0"), out.take(400))
    val table = Seq(
      "+---+-----+",
      "| id|    v|",
      "+---+-----+",
      "|  1|alpha|",
      "|  2|    b|",
      "+---+-----+").mkString("\n")
    assert(out.contains(table), s"console table format drifted:\n$out")
  }

  test("AvailableNow parquet sink lands checkpointed files") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    val q = graft.sources.KafkaSources.toParquet(
      mem.toDF().toDF("id", "v"),
      path = s"$dir/data",
      checkpointLocation = s"$dir/chk").start()
    try q.awaitTermination(30000) finally q.stop()
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() == 2)
    assert(new java.io.File(s"$dir/chk").exists())
  }

  test("pretrain gate composes incrementally: AvailableNow stream == batch stages") {
    // the LLM pretrain pipeline's gate stages (quality -> langid ->
    // exact-text dedup) run as an incremental file stream — files
    // arrive one micro-batch at a time, dedup state carries ACROSS
    // batches, and the admitted corpus equals the batch pipeline's
    // keep-first dedup stage on the same data. Survivor doc_ids may
    // legitimately differ (batch keeps min doc_id, the stream keeps
    // first-seen), so the law is over the admitted TEXT set.
    import graft.functions.TextFunctions._
    val dir = java.nio.file.Files.createTempDirectory("graft_pretrain").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "lang", "text")
    // 3 source files => 3 micro-batches under maxFilesPerTrigger=1
    docs.repartition(3).write.parquet(s"$dir/src")
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/src")
    val q = StreamingOps.pretrainGate(stream)
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.read.parquet(s"$dir/out")
    val batch = docs
      .where(qualityScore(col("text")) >= 0.5)
      .withColumn("plang", langId(col("text")))
      .where(col("plang") =!= "und")
      .withColumn("keep_id",
        org.apache.spark.sql.functions.min("doc_id")
          .over(org.apache.spark.sql.expressions.Window.partitionBy("text")))
      .where(col("doc_id") === col("keep_id"))
    // at least two micro-batches actually ran (progress is recorded
    // per file under maxFilesPerTrigger=1) — otherwise the cross-batch
    // dedup state was never exercised
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected the file source to deliver multiple micro-batches")
    val gotTexts = got.select("text").as[String].collect().toSet
    val wantTexts = batch.select("text").as[String].collect().toSet
    assert(gotTexts == wantTexts,
      s"admitted text sets differ: stream=${gotTexts.size} batch=${wantTexts.size}")
    // exactly one survivor per distinct admitted text
    assert(got.count() == wantTexts.size)
    // the stateless stages agree row-for-row: n_toks recomputed on the
    // batch side matches what the stream emitted
    val wantToks = batch
      .select(col("text"), tokenCount(col("text")).cast("long").as("n_toks"))
      .as[(String, Long)].collect().toMap
    got.select("text", "n_toks").as[(String, Long)].collect().foreach {
      case (t, n) => assert(wantToks(t) == n, s"n_toks drifted for a survivor")
    }
  }

  test("streaming fuzzy dedup equals the batch minhash-LSH pair law across micro-batches") {
    // pretrainGateFuzzy (quality -> langid -> streaming MinHash-LSH)
    // over micro-batches must admit exactly the docs the BATCH law
    // admits: gated corpus minus the later member of every
    // Dedup.minhashLsh pair (same kernels, same band formula, exact
    // Jaccard verify). Mutant near-dup copies of real documents are
    // planted in the LAST micro-batch so the drop decisions must use
    // bucket state carried from earlier batches.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    import graft.functions.TextFunctions._
    val base = Tables.documents(spark, TestSpark.sfDir).select("doc_id", "text")
    val mutants = base.orderBy("doc_id").limit(5)
      .select((F.col("doc_id") + 1000000L).as("doc_id"),
        F.concat(F.col("text"), F.lit(" and the day")).as("text"))
    val corpus = base.unionByName(mutants)
    val gated = corpus
      .where(qualityScore(F.col("text")) >= 0.5)
      .where(langId(F.col("text")) =!= "und")
    val dropIds = graft.operators.Dedup.minhashLsh(gated)
      .select("b_id").as[Long].collect().toSet
    val wantAdmitted = gated.select("doc_id").as[Long].collect().toSet -- dropIds
    assert(dropIds.nonEmpty, "law test is vacuous: no near-dup pairs in corpus")

    val rows = corpus.as[(Long, String)].collect().sortBy(_._1)
    def t(id: Long) = new Timestamp(1700000000000L + id) // monotone in doc_id
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = StreamingOps.pretrainGateFuzzy(spark, df)
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamingOps.LshVerdict], _: Long) =>
          StreamingOps.admittedFromVerdicts(b.toDF()).select("doc_id")
            .collect().foreach(r => admitted.add(r.getLong(0)))
          ()
      }.start()
    try {
      val chunks = rows.grouped((rows.length + 2) / 3).toSeq
      assert(chunks.size >= 2, "need multiple micro-batches")
      chunks.foreach { c =>
        mem.addData(c.toSeq.map { case (id, tx) => (id, t(id), tx) }: _*)
        q.processAllAvailable()
      }
      import scala.jdk.CollectionConverters._
      assert(admitted.asScala.toSet == wantAdmitted,
        s"admitted sets differ: stream=${admitted.size} batch=${wantAdmitted.size}")
    } finally q.stop()
  }

  test("streaming ANN serve equals the batch index serve per micro-batch") {
    // online serving: query vectors arriving over two micro-batches
    // against a persisted IVF index must produce exactly the batch
    // serve's rows for the union of queries (serving is state-free
    // across batches, so streaming == batch restricted per batch).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = e.where(F.col("vec_id") < 8)
      .select(F.col("vec_id").as("c_id"), F.col("embedding").as("c_vec"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    graft.operators.IvfIndex.write(e, seeds, path)
    val queryVecs = e.where(F.col("vec_id") < 6)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("q"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, Array[Float])]
    val served = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)]()
    // serving deployments need a durable checkpoint + a query name —
    // pass both through the writeStream options seam
    val chk = java.nio.file.Files.createTempDirectory("graft_ivf_chk").toString
    // fixed snapshot: base ∪ deltas and the centroids resolve once
    val assigned = graft.operators.IvfIndex.readAll(spark, path)
    val centroids = graft.operators.IvfIndex.centroids(spark, path)
    val q = StreamingOps.foreachBatch(mem.toDF().toDF("query_id", "q"),
      Map("checkpointLocation" -> chk, "queryName" -> "ivf_serve_test")) { (batch, _) =>
      val batchOut = graft.operators.Similarity.ivfServe(
        assigned, centroids, batch, k = 5, nProbe = 2)
      served.synchronized {
        served ++= batchOut.as[(Long, Long, Int, Double)].collect()
      }
    }
    try {
      assert(q.name == "ivf_serve_test", "queryName not passed through")
      mem.addData(queryVecs.take(3).toSeq: _*)
      q.processAllAvailable()
      mem.addData(queryVecs.drop(3).toSeq: _*)
      q.processAllAvailable()
      // the checkpoint is live: offsets/commits recorded per batch —
      // the restartability the default temp checkpoint cannot give
      assert(new java.io.File(s"$chk/commits").list().nonEmpty,
        "checkpointLocation option did not reach the streaming writer")
      val want = graft.operators.IvfIndex.serveAll(
        spark, path,
        e.where(F.col("vec_id") < 6)
          .select(F.col("vec_id").as("query_id"), F.col("embedding").as("q")),
        k = 5, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect()
      assert(served.sortBy(r => (r._1, r._3)).toSeq ==
        want.sortBy(r => (r._1, r._3)).toSeq && served.nonEmpty,
        s"streamed serve diverged: ${served.size} vs ${want.length} rows")
    } finally q.stop()
  }

  test("streaming IVF serve sees vectors committed as delta epochs") {
    // the snapshot an IVF serve stream resolves is base ∪ committed
    // deltas, like every other tier's serve stream: a delta epoch
    // holding an exact copy of query 0 must surface as its top hit
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select("vec_id", "embedding")
    val seeds = e.where(F.col("vec_id") < 8)
      .select(F.col("vec_id").as("c_id"), F.col("embedding").as("c_vec"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_delta_srv").toString
    graft.operators.IvfIndex.write(e, seeds, path)
    val twinId = 1000000L
    graft.operators.IvfIndex.appendEpoch(spark, path, 0L,
      e.where(F.col("vec_id") === 0).select(F.lit(twinId).as("vec_id"), F.col("embedding")))
    val queries = e.where(F.col("vec_id") < 4)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("q"))
    val mem = MemoryStream[(Long, Array[Float])]
    val served = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)]()
    val assigned = graft.operators.IvfIndex.readAll(spark, path)
    val centroids = graft.operators.IvfIndex.centroids(spark, path)
    val q = StreamingOps.foreachBatch(mem.toDF().toDF("query_id", "q")) { (batch, _) =>
      val out = graft.operators.Similarity.ivfServe(
        assigned, centroids, batch, k = 5, nProbe = 2)
      served.synchronized { served ++= out.as[(Long, Long, Int, Double)].collect() }
    }
    try {
      mem.addData(queries.as[(Long, Array[Float])].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = served.synchronized(served.sortBy(r => (r._1, r._3)).toSeq)
    assert(got.exists(r => r._1 == 0L && r._2 == twinId),
      s"the committed delta's twin of query 0 was not served: $got")
    val want = graft.operators.IvfIndex.serveAll(spark, path, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == want, s"streamed serve diverged from serveAll: $got vs $want")
  }

  test("streaming fuzzy dedup saturates megabuckets like the batch skew cap") {
    // batch minhashLsh drops buckets with > MAX_BUCKET members whole
    // (boilerplate megabuckets flag nothing); the streaming form
    // mirrors that going forward: once a bucket's horizon population
    // exceeds the cap, later arrivals are admitted un-compared.
    // Pinned shape for 70 identical docs: #1 admitted (first copy),
    // #2..#64 flagged (bucket still under cap — verdicts already
    // emitted cannot be retracted), #65.. admitted (saturated).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val cap = graft.operators.Dedup.MAX_BUCKET
    val n = cap + 6
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val txt = "the quick brown fox jumps over the lazy dog once more today"
    def t(id: Long) = new Timestamp(1700000000000L + id)
    val q = StreamingOps.minhashLshVerdicts(spark, df, horizonMs = 60 * 60 * 1000L)
      .writeStream.format("memory").queryName("sat_out").outputMode("append").start()
    try {
      // split across micro-batches so saturation state must carry over
      mem.addData((1L to 40L).map(i => (i, t(i), txt)): _*)
      q.processAllAvailable()
      mem.addData((41L to n.toLong).map(i => (i, t(i), txt)): _*)
      q.processAllAvailable()
      val dup = spark.table("sat_out")
        .groupBy("doc_id").agg(F.max(F.col("dup").cast("int")).as("d"))
        .as[(Long, Int)].collect().toMap
      assert(dup(1L) == 0, "first copy is never a dup")
      (2 to cap).foreach(i => assert(dup(i.toLong) == 1, s"doc $i under cap must flag"))
      ((cap + 1) to n).foreach(i =>
        assert(dup(i.toLong) == 0, s"doc $i past cap must be admitted (saturated bucket)"))
    } finally q.stop()
  }

  test("streaming fuzzy dedup drops cross-batch near-dups and re-admits beyond the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingOps.minhashLshVerdicts(spark, df, horizonMs = 60 * 60 * 1000L)
      .writeStream.format("memory").queryName("fuzzy_out").outputMode("append").start()
    val txt = "the quick brown fox jumps over the lazy dog once more today"
    def T(s: String) = Timestamp.valueOf(s)
    try {
      mem.addData((1L, T("2024-01-01 10:00:00"), txt))
      q.processAllAvailable()
      // near-dup (one appended token, J = 10/11) in a LATER micro-batch:
      // the bucket state must have carried across batches
      mem.addData((2L, T("2024-01-01 10:05:00"), txt + " indeed"))
      q.processAllAvailable()
      // beyond-horizon LAGGARD: byte-identical copy 66/61 minutes after
      // docs 1/2, while the one-batch-lagging watermark (09:05) has NOT
      // evicted either entry yet — only the pairwise t - e.tsMs <=
      // horizonMs bound keeps this admission honest
      mem.addData((5L, T("2024-01-01 11:06:00"), txt))
      q.processAllAvailable()
      // unrelated doc advances the watermark to 12:00 (13:00 - 1h)
      mem.addData((3L, T("2024-01-01 13:00:00"),
        "completely different words about winter mountain snow and ice"))
      q.processAllAvailable()
      // byte-identical copy of doc 1 — but the original is beyond the
      // horizon, so its state entry is evicted and the copy re-admits
      mem.addData((4L, T("2024-01-01 13:05:00"), txt))
      q.processAllAvailable()
      val dup = spark.table("fuzzy_out")
        .groupBy("doc_id").agg(F.max(F.col("dup").cast("int")).as("d"))
        .as[(Long, Int)].collect().toMap
      assert(dup(1L) == 0)
      assert(dup(2L) == 1, "cross-batch near-dup not flagged")
      assert(dup(5L) == 0,
        "not-yet-evicted entries beyond the horizon must not flag a laggard copy")
      assert(dup(3L) == 0)
      assert(dup(4L) == 0, "beyond-horizon copy should re-admit")
      // the flagged doc names its earliest-admitted partner — the
      // edge the online-clustering composition consumes
      val partners = spark.table("fuzzy_out")
        .where(F.col("dup")).select("doc_id", "partner")
        .as[(Long, Option[Long])].collect().toMap
      assert(partners == Map(2L -> Some(1L)), s"partners: $partners")
    } finally q.stop()
  }

  test("incremental triangle maintenance equals the batch operator on every snapshot") {
    // edge stream over four micro-batches exercising every delta case:
    // a triangle fully inside one batch (3-new), one closed by a later
    // single edge (1-new), one whose two final edges arrive together
    // over an old base edge (2-new), re-sent duplicate edges (no-ops),
    // reversed-orientation duplicates, and a self-loop (dropped). The
    // invariant: after EVERY batch the maintained snapshot equals
    // Graph.triangleCounts over the distinct canonical edges so far.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val mem = MemoryStream[(Long, Long)]
    val snaps = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val q = StreamingOps.triangleMaintenanceStream(
      mem.toDF().toDF("src", "dst")) { (snap, _) =>
      snaps.synchronized {
        snaps += snap.as[(Long, Long)].collect().toMap
      }
    }
    val batches = Seq(
      // b0: triangle 1-2-3 entirely in one batch + stray edge 3-4
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 5L)),
      // b1: duplicates (same + reversed orientation) — must change nothing
      Seq((1L, 2L), (3L, 2L)),
      // b2: single new edge closes 1-3-4 against two old edges (1-new);
      // 4-5 is new but closes nothing yet
      Seq((1L, 4L), (4L, 5L)),
      // b3: two new edges 2-5, 5-1 wedge at 5 over OLD base 1-2 (2-new);
      // plus 4-6 and 5-6 forming 4-5-6 with old 4-5 (2-new at center 6)
      Seq((2L, 5L), (5L, 1L), (4L, 6L), (5L, 6L)))
    try {
      val seen = scala.collection.mutable.Set[(Long, Long)]()
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b.filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        val und = seen.toSeq.toDF("a", "b")
        val want = graft.operators.Graph.triangleCounts(und, packIds = false)
          .as[(Long, Long)].collect().toMap
        assert(snaps.synchronized(snaps(i)) == want,
          s"batch $i snapshot diverged: got ${snaps(i)}, want $want")
      }
      // the final graph has triangles from all three delta classes
      assert(snaps.last.nonEmpty && snaps.last.values.sum / 3 >= 4,
        s"test graph too weak: ${snaps.last}")
    } finally q.stop()
  }

  test("triangle maintenance state also serves exact degree snapshots") {
    // degree state rides the maintained adjacency for free: after any
    // batch sequence, degreeSnapshot equals the distinct-edge degree
    // count of everything ingested (duplicates and reversals no-ops)
    val st = StreamingOps.emptyTriangleState(spark)
    StreamingOps.updateTriangles(st,
      Seq((1L, 2L), (2L, 3L), (2L, 1L)).toDF("src", "dst"))
    StreamingOps.updateTriangles(st,
      Seq((1L, 3L), (1L, 2L), (3L, 4L)).toDF("src", "dst"))
    val got = st.degreeSnapshot.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L), s"got $got")
    st.release()
  }

  test("incremental triangle maintenance keeps state storage flat across batches") {
    // each batch checkpoints the new adjacency/counts generation and
    // must release the superseded one (plus every transient the batch
    // operator pins) — otherwise a long-lived maintenance stream
    // accretes executor storage per micro-batch
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.triangleMaintenanceStream(
      mem.toDF().toDF("src", "dst")) { (_, _) => () }
    try {
      mem.addData((1L, 2L), (2L, 3L), (1L, 3L))
      q.processAllAvailable()
      val after1 = spark.sparkContext.getPersistentRDDs.size
      (0 until 4).foreach { i =>
        mem.addData((10L + i, 20L + i), (20L + i, 30L + i), (10L + i, 30L + i))
        q.processAllAvailable()
      }
      val after5 = spark.sparkContext.getPersistentRDDs.size
      assert(after5 <= after1 + 1,
        s"state generations accrete: $after1 cached RDDs after batch 1, " +
          s"$after5 after batch 5")
    } finally q.stop()
  }

  test("incremental connected components equals the batch operator on every snapshot") {
    // edge stream over four micro-batches exercising every delta case:
    // components born inside one batch, a later edge MERGING two
    // previously-separate components, a transitive chain merge of
    // three components in one batch, a brand-new node whose id becomes
    // the merged component's new minimum, re-sent duplicate + reversed
    // edges (no-ops), and a self-loop (dropped). Invariant: after
    // EVERY batch the snapshot equals Dedup.connectedComponents over
    // the distinct canonical edges seen so far.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val snaps = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val q = StreamingOps.ccMaintenanceStream(
      mem.toDF().toDF("src", "dst")) { (snap, _) =>
      snaps.synchronized {
        snaps += snap.as[(Long, Long)].collect().toMap
      }
    }
    val batches = Seq(
      // b0: two separate components {10,11,12} and {20,21} + self-loop
      Seq((10L, 11L), (11L, 12L), (20L, 21L), (10L, 10L)),
      // b1: duplicates (same + reversed orientation) — must change nothing
      Seq((10L, 11L), (21L, 20L)),
      // b2: 12-20 merges the two components; 30-31 starts a third
      Seq((12L, 20L), (30L, 31L)),
      // b3: new node 1 joins {30,31} and becomes its new minimum, and
      // 31-10 chains that component onto the merged {10..21} one —
      // a transitive multi-component merge within a single batch
      Seq((1L, 30L), (31L, 10L)))
    try {
      val seen = scala.collection.mutable.Set[(Long, Long)]()
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b.filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        val pairs = seen.toSeq.toDF("a_id", "b_id")
        val want = graft.operators.Dedup.connectedComponents(pairs)
          .as[(Long, Long)].collect().toMap
        assert(snaps.synchronized(snaps(i)) == want,
          s"batch $i snapshot diverged: got ${snaps(i)}, want $want")
      }
      // the final graph is one component rooted at the late-arriving 1
      // plus nothing else — the new-node-becomes-minimum case really ran
      assert(snaps.last.values.toSet == Set(1L), s"final: ${snaps.last}")
    } finally q.stop()
  }

  test("incremental connected components keeps state storage flat across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.ccMaintenanceStream(
      mem.toDF().toDF("src", "dst")) { (_, _) => () }
    try {
      mem.addData((1L, 2L), (2L, 3L))
      q.processAllAvailable()
      val after1 = spark.sparkContext.getPersistentRDDs.size
      (0 until 4).foreach { i =>
        // each batch both creates a component and merges into the old one
        mem.addData((100L + i, 200L + i), (200L + i, 1L))
        q.processAllAvailable()
      }
      val after5 = spark.sparkContext.getPersistentRDDs.size
      assert(after5 <= after1 + 1,
        s"state generations accrete: $after1 cached RDDs after batch 1, " +
          s"$after5 after batch 5")
    } finally q.stop()
  }

  test("durable triangle maintenance: restart resumes, replayed epoch never double-counts") {
    // the production protocol the session-lived state cannot offer:
    // state snapshots per epoch + a streaming checkpoint. Three acts —
    // (1) ingest, stop; (2) RESTART the query and ingest more: the
    // state must resume from the committed generation, not recount;
    // (3) truncate the stream's commit log (crash after the state
    // commit, before the stream commit — the replay window) and
    // restart: the replayed epoch finds its generation committed and
    // must be skipped, or every count in it doubles.
    import org.apache.spark.sql.{functions => F}
    val base = java.nio.file.Files.createTempDirectory("graft_dur_tri").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    val snaps = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    def start() = StreamingOps.durableTriangleMaintenanceStream(
      spark.readStream.schema("src LONG, dst LONG").parquet(src),
      st, Map("checkpointLocation" -> ckpt)) { (snap, _) =>
      snaps.synchronized { snaps += snap.as[(Long, Long)].collect().toMap }
    }
    def expect(edges: Seq[(Long, Long)]) =
      graft.operators.Graph.triangleCounts(
        edges.toDF("a", "b"), packIds = false)
        .as[(Long, Long)].collect().toMap
    // act 1: triangle 1-2-3 plus a base edge for later
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst").write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val e1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(snaps.synchronized(snaps.last) == expect(e1))
    // act 2: restart; a new file closes triangle 1-3-4
    Seq((1L, 4L)).toDF("src", "dst").write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val e2 = e1 :+ (1L, 4L)
    assert(snaps.synchronized(snaps.last) == expect(e2),
      "restart did not resume from the committed state generation")
    // act 3: lose the last stream commit (keep the state commit) —
    // the replayed epoch must be recognized and skipped
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    assert(last.delete())
    new java.io.File(s"$ckpt/commits/.${last.getName}.crc").delete()
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(snaps.synchronized(snaps.last) == expect(e2),
      "replayed epoch was re-applied: triangle counts doubled")
    // exactly one committed state snapshot remains on disk, the latest
    // epoch's; the older epochs' markers stay as the replay guard
    def digits(dir: String) = new java.io.File(s"$st/$dir").list().toSeq
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted
    val (markers, snapshots) = (digits("epochs"), digits("deltas"))
    assert(snapshots == Seq(markers.max) && markers.length > 1,
      s"superseded epochs not retired: data $snapshots, markers $markers")
  }

  test("EpochStateStore ignores torn generations and prunes superseded ones") {
    // the durable state's commit window on its LsmSegments layout: an
    // epoch whose data landed but whose marker did not (died mid-write)
    // must be invisible to resume, then overwritten by the replay of
    // that epoch; a commit retires the previous epoch's data and keeps
    // its marker as the replay guard
    val base = java.nio.file.Files.createTempDirectory("graft_ess").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    @volatile var lastSnap: Map[Long, Long] = Map.empty
    def start() = StreamingOps.durableCcMaintenanceStream(
      spark.readStream.schema("src LONG, dst LONG").parquet(src),
      st, Map("checkpointLocation" -> ckpt)) { (snap, _) =>
      lastSnap = snap.as[(Long, Long)].collect().toMap
    }
    def labelsAt(epoch: Long) =
      spark.read.parquet(s"$st/deltas/$epoch/labels").as[(Long, Long)].collect().toMap
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(graft.operators.LsmSegments.committedEpochs(spark, st) == Seq(0L))
    // torn epoch 1: data written, marker lost
    Seq((9L, 9L)).toDF("node_id", "cluster_id").write.parquet(s"$st/deltas/1/labels")
    // the next batch is epoch 1 again: it resumes from epoch 0's labels
    // and its commit overwrites the torn data
    Seq((2L, 3L)).toDF("src", "dst").coalesce(1).write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(lastSnap == want, s"torn epoch leaked into resume: $lastSnap")
    assert(graft.operators.LsmSegments.committedEpochs(spark, st) == Seq(0L, 1L))
    assert(labelsAt(1L) == want, "the replay did not overwrite the torn data")
    assert(!new java.io.File(s"$st/deltas/0").exists(),
      "superseded epoch's data not retired")
    assert(new java.io.File(s"$st/epochs/0").exists(),
      "the retired epoch's replay-guard marker is gone")
  }

  test("durable state refuses a fresh checkpoint lineage against committed epochs") {
    // a FRESH checkpointLocation restarts epoch ids at 0: against a
    // store whose epoch 0 is committed, its first batch would find that
    // marker and be skipped, silently dropping the new edges. The
    // checkpoint's offset log must have reached the store's latest epoch.
    val base = java.nio.file.Files.createTempDirectory("graft_dur_lineage").toString
    val (src, st) = (s"$base/src", s"$base/state")
    def start(ckpt: String) = StreamingOps.durableCcMaintenanceStream(
      spark.readStream.schema("src LONG, dst LONG").parquet(src),
      st, Map("checkpointLocation" -> ckpt)) { (_, _) => () }
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1).write.mode("append").parquet(src)
    val q1 = start(s"$base/chkA")
    try q1.processAllAvailable() finally q1.stop()
    Seq((3L, 4L)).toDF("src", "dst").coalesce(1).write.mode("append").parquet(src)
    val e = intercept[IllegalArgumentException](start(s"$base/chkB").stop())
    assert(e.getMessage.contains("checkpointLocation"), e.getMessage)
    // the original lineage still resumes
    val q2 = start(s"$base/chkA")
    try q2.processAllAvailable() finally q2.stop()
  }

  test("durable CC maintenance: restart resumes and replayed epochs are idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft_dur_cc").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    val snaps = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    def start() = StreamingOps.durableCcMaintenanceStream(
      spark.readStream.schema("src LONG, dst LONG").parquet(src),
      st, Map("checkpointLocation" -> ckpt)) { (snap, _) =>
      snaps.synchronized { snaps += snap.as[(Long, Long)].collect().toMap }
    }
    Seq((10L, 11L), (20L, 21L)).toDF("src", "dst")
      .write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // restart: the merging edge must see the committed labels
    Seq((11L, 20L)).toDF("src", "dst").write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val want = Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L)
    assert(snaps.synchronized(snaps.last) == want, s"got ${snaps.last}")
    // replay the merge epoch: labels are already minima — idempotent
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    assert(last.delete())
    new java.io.File(s"$ckpt/commits/.${last.getName}.crc").delete()
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(snaps.synchronized(snaps.last) == want,
      s"replayed merge epoch corrupted labels: ${snaps.last}")
  }

  test("durable online near-dup clustering: fuzzy verdict edges drive durable CC across a kill/resume") {
    // the composed ingest pipeline, durable end-to-end: file-source
    // docs -> minhashLshVerdicts (flatMapGroupsWithState, state in the
    // STREAM checkpoint) -> (partner, doc) edges -> durable CC
    // maintenance (labels in the durable state store). The query is KILLED
    // between batches and resumed from both stores; the final cluster
    // snapshot must equal the batch pipeline — connectedComponents
    // over the batch minhashLsh pairs of every doc ever delivered.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val base = java.nio.file.Files.createTempDirectory("graft_dur_fuzzy_cc").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    val txtA = "the quick brown fox jumps over the lazy dog once more today"
    val txtB = "completely different words about winter mountain snow and ice fields"
    val txtC = "spark streaming maintains exactly once state across micro batch restarts"
    def T(s: String) = Timestamp.valueOf(s)
    val sch = "doc_id LONG, ts TIMESTAMP, text STRING"
    @volatile var lastSnap: Map[Long, Long] = Map.empty
    def start() = {
      val stream = spark.readStream.schema(sch).parquet(src)
      val edges = StreamingOps.minhashLshVerdicts(
        spark, stream, horizonMs = 60 * 60 * 1000L)
        .toDF()
        .where(F.col("dup"))
        .select(F.col("partner").as("src"), F.col("doc_id").as("dst"))
      StreamingOps.durableCcMaintenanceStream(
        edges, st, Map("checkpointLocation" -> ckpt)) { (snap, _) =>
        lastSnap = snap.as[(Long, Long)].collect().toMap
      }
    }
    // batch 1: two groups (A: 1,2 / B: 3,4)
    Seq(
      (1L, T("2024-01-01 10:00:00"), txtA),
      (2L, T("2024-01-01 10:00:01"), txtA + " indeed"),
      (3L, T("2024-01-01 10:00:02"), txtB),
      (4L, T("2024-01-01 10:00:03"), txtB + " again")
    ).toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(lastSnap == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      s"pre-restart clusters wrong: $lastSnap")
    // KILL happened (q1.stop); batch 2 joins group A ACROSS the
    // restart (doc 5 pairs with state recovered from the stream
    // checkpoint) and opens group C
    Seq(
      (5L, T("2024-01-01 10:10:00"), txtA + " truly"),
      (6L, T("2024-01-01 10:10:01"), txtC),
      (7L, T("2024-01-01 10:10:02"), txtC + " always")
    ).toDF("doc_id", "ts", "text").write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // pin against the batch pipeline over every doc delivered
    val allDocs = spark.read.parquet(src).select("doc_id", "text")
    val want = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.minhashLsh(allDocs).select("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(lastSnap == want && want.nonEmpty,
      s"composed durable pipeline $lastSnap != batch clustering $want")
    assert(lastSnap.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      s"every grouped doc must carry a cluster id: $lastSnap")
  }

  test("streaming cosine near-dup flags cross-batch copies and saturates megabuckets") {
    // the embedding-side streaming gate, same contracts as the MinHash
    // one: a direction-preserving copy arriving in a LATER batch is
    // flagged (sign(w·cv)=sign(w·v) for c>0, so every band bucket
    // matches and exact cosine is 1.0); orthogonal vectors pass; a
    // bucket hitting the cap saturates and stops flagging, mirroring
    // the batch form's megabucket drop.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    def scale(v: Seq[Float], c: Float): Seq[Float] = v.map(_ * c)
    def T(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val verdicts = StreamingOps.cosineLshVerdicts(
      spark, mem.toDF().toDF("vec_id", "ts", "embedding"),
      threshold = 0.9, maxBucket = 2)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("cos_out").start()
    try {
      mem.addData(
        (1L, T("2024-01-01 10:00:00"), axis(0)),
        (2L, T("2024-01-01 10:00:01"), axis(1)))
      q.processAllAvailable()
      mem.addData(
        (3L, T("2024-01-01 10:05:00"), scale(axis(0), 1.5f)), // copy of 1
        (4L, T("2024-01-01 10:05:01"), axis(2)))              // fresh
      q.processAllAvailable()
      // 5 lands in vec-1's buckets AFTER they saturate (cap=2: members
      // 1 and 3) — admitted without a flag, like the batch drop
      mem.addData((5L, T("2024-01-01 10:10:00"), scale(axis(0), 2.0f)))
      q.processAllAvailable()
      val dup = spark.table("cos_out")
        .groupBy("vec_id").agg(F.max(F.col("dup").cast("int")).as("d"))
        .as[(Long, Int)].collect().toMap
      assert(dup(1L) == 0 && dup(2L) == 0 && dup(4L) == 0, s"$dup")
      assert(dup(3L) == 1, s"cross-batch scaled copy not flagged: $dup")
      assert(dup(5L) == 0, s"saturated bucket must stop flagging: $dup")
      // the admission fold drops exactly the flagged copy
      val admitted = StreamingOps.admittedFromCosVerdicts(spark.table("cos_out"))
        .select("vec_id").as[Long].collect().toSet
      assert(admitted == Set(1L, 2L, 4L, 5L), s"admitted: $admitted")
    } finally q.stop()
  }

  test("cosine gate honors the batch per-label blocking when labels are present") {
    // batch cosineNearDup only pairs within a label block (pinned in
    // SimilaritySpec); the stream must mirror that: a byte-identical
    // vector under a DIFFERENT label is never flagged, the same vector
    // under the SAME label is
    implicit val sqlCtx = spark.sqlContext
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    def T(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp, Seq[Float], Int)]
    val q = StreamingOps.cosineLshVerdicts(
      spark, mem.toDF().toDF("vec_id", "ts", "embedding", "label"),
      threshold = 0.9)
      .writeStream.outputMode("append")
      .format("memory").queryName("cos_lbl_out").start()
    try {
      mem.addData(
        (10L, T("2024-01-01 10:00:00"), axis(0), 1),
        (11L, T("2024-01-01 10:00:01"), axis(0), 2), // copy, OTHER label
        (12L, T("2024-01-01 10:00:02"), axis(0), 1)) // copy, SAME label
      q.processAllAvailable()
      val dup = spark.table("cos_lbl_out")
        .groupBy("vec_id")
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("dup").cast("int")).as("d"))
        .as[(Long, Int)].collect().toMap
      assert(dup(10L) == 0, s"$dup")
      assert(dup(11L) == 0, s"cross-label copy must not pair (batch blocks by label): $dup")
      assert(dup(12L) == 1, s"same-label copy must pair: $dup")
    } finally q.stop()
  }

  test("cosine gate blocks on labels of any type — strings and NULLs included") {
    // batch cosineNearDup groups buckets on the RAW label column of
    // whatever type; the stream's blocking key must be type-agnostic
    // too. A bare cast("long") turned string labels into null and the
    // non-nullable state key NPE'd at encode time; null labels must
    // form their OWN block (like a SQL GROUP BY), disjoint from every
    // value's.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    def T(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp, Seq[Float], Option[String])]
    val q = StreamingOps.cosineLshVerdicts(
      spark, mem.toDF().toDF("vec_id", "ts", "embedding", "label"),
      threshold = 0.9)
      .writeStream.outputMode("append")
      .format("memory").queryName("cos_slbl_out").start()
    try {
      mem.addData(
        (20L, T("2024-01-01 10:00:00"), axis(0), Some("news")),
        (21L, T("2024-01-01 10:00:01"), axis(0), Some("web")),  // copy, other label
        (22L, T("2024-01-01 10:00:02"), axis(0), Some("news")), // copy, same label
        (23L, T("2024-01-01 10:00:03"), axis(0), None),         // copy, null label
        (24L, T("2024-01-01 10:00:04"), axis(0), None))         // copy, null label
      q.processAllAvailable()
      val dup = spark.table("cos_slbl_out")
        .groupBy("vec_id").agg(F.max(F.col("dup").cast("int")).as("d"))
        .as[(Long, Int)].collect().toMap
      assert(dup(20L) == 0 && dup(21L) == 0, s"$dup")
      assert(dup(22L) == 1, s"same-string-label copy must pair: $dup")
      assert(dup(23L) == 0,
        s"first null-label vector must not pair with any value label: $dup")
      assert(dup(24L) == 1, s"null labels form their own block: $dup")
      val partner = spark.table("cos_slbl_out")
        .where(F.col("vec_id") === 24L && F.col("dup"))
        .select("partner").as[Option[Long]].collect().flatten.toSet
      assert(partner == Set(23L), s"null-block partner must be 23: $partner")
    } finally q.stop()
  }

  test("online near-dup clustering: cosine-gate pairs feed CC maintenance at ingest") {
    // the composed pipeline a crawl ingest actually wants: every
    // vector gets its near-dup CLUSTER id as it arrives — the gate
    // emits (partner, newcomer) edges, CC maintenance merges them
    // incrementally, and the snapshot equals the batch clustering over
    // every pair emitted so far
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    def axis(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    def T(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val cc = StreamingOps.emptyCcState(spark)
    val seen = scala.collection.mutable.Set[(Long, Long)]()
    val q = StreamingOps.cosineLshVerdicts(
      spark, mem.toDF().toDF("vec_id", "ts", "embedding"), threshold = 0.9)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingOps.CosVerdict], _: Long) =>
        val pairs = batch.where(F.col("dup"))
          .select(F.col("partner").as("src"), F.col("vec_id").as("dst"))
        StreamingOps.updateCc(cc, pairs)
        seen.synchronized {
          seen ++= pairs.as[(Long, Long)].collect()
        }
        ()
      }
      .start()
    try {
      mem.addData(
        (1L, T("2024-01-01 10:00:00"), axis(0)),
        (2L, T("2024-01-01 10:00:01"), axis(1)))
      q.processAllAvailable()
      mem.addData(
        (3L, T("2024-01-01 10:05:00"), axis(0).map(_ * 1.5f)),
        (4L, T("2024-01-01 10:05:01"), axis(2)))
      q.processAllAvailable()
      mem.addData(
        (5L, T("2024-01-01 10:10:00"), axis(1).map(_ * 2.0f)),
        (6L, T("2024-01-01 10:10:01"), axis(0).map(_ * 3.0f)))
      q.processAllAvailable()
      val got = cc.snapshot.as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 3L -> 1L, 6L -> 1L, 2L -> 2L, 5L -> 2L),
        s"got $got")
      // and the maintained labels replay exactly as the batch operator
      // over every emitted pair
      val want = graft.operators.Dedup.connectedComponents(
        seen.synchronized(seen.toSeq).toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"stream $got != batch $want")
    } finally q.stop()
  }

  test("streaming SQ8 ingest commits quantized delta segments, served immediately") {
    // the SQ8 tier through the shared ingestStream loop: two
    // micro-batches of new vectors land as committed quantized delta
    // segments; serveAll equals the in-memory sq8Knn over everything
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val inc = java.nio.file.Files.createTempDirectory("graft_sq8_s").toString
    graft.operators.Sq8Index.write(
      e.where($"vec_id" % 2 === 0).select($"vec_id", $"embedding"), inc)
    val rest = e.where($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val (h1, h2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val q = StreamingOps.ingestStream(graft.operators.Sq8Index,
      mem.toDF().toDF("vec_id", "embedding"), inc) { (ep, ok) =>
      applied.synchronized { applied += ((ep, ok)) }
    }
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(applied.synchronized(applied.toList).forall(_._2) &&
      applied.size == 2, s"epochs: $applied")
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val got = graft.operators.Sq8Index.serveAll(spark, inc, queries, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = graft.operators.Similarity.sq8Knn(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == want && want.nonEmpty,
      "streamed SQ8 ingest diverges from the in-memory operator")
    // a second lineage without the original checkpoint fails fast
    val err = intercept[IllegalArgumentException] {
      StreamingOps.ingestStream(graft.operators.Sq8Index,
        MemoryStream[(Long, Seq[Float])].toDF()
          .toDF("vec_id", "embedding"), inc)()
    }
    assert(err.getMessage.contains("checkpointLocation"))
  }

  test("streaming decontamination gate == batch shared-gram counts (stateless, grams broadcast)") {
    // the benchmark gram set is static; replay the corpus as a
    // 3-micro-batch file stream through the stateless gate — every
    // contaminated doc's n_shared_grams must equal the batch
    // explode+join+countDistinct aggregation, and clean docs must
    // pass through with 0
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select($"doc_id", $"text")
    val isBench = $"doc_id" % 25 === 0
    val bench = docs.where(isBench)
    val corpus = docs.where(!isBench)
    val dir = java.nio.file.Files.createTempDirectory("graft_decon_gate").toString
    corpus.repartition(3).write.parquet(s"$dir/src")
    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/src")
    val q = StreamingOps.decontaminateGate(stream, bench, shingleN = 8)
      .select($"doc_id", $"n_shared_grams")
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.read.parquet(s"$dir/out")
      .as[(Long, Long)].collect().toMap
    val benchGrams = bench
      .select(explode(graft.functions.ShingleSet($"text", 8)).as("gram"))
      .distinct()
    val want = corpus
      .select($"doc_id", explode(graft.functions.ShingleSet($"text", 8)).as("gram"))
      .join(org.apache.spark.sql.functions.broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct($"gram").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(want.nonEmpty, "fixture produced no contaminated docs")
    assert(got.filter(_._2 > 0) == want,
      "gate counts diverge from the batch aggregation")
    assert(got.size == corpus.count(),
      "clean docs must pass through the gate too")
  }

  test("streaming MinHash ingest commits fingerprint delta segments, served immediately") {
    // the dedup tier through the shared ingestStream loop: two
    // micro-batches of new documents land as committed fingerprint
    // delta segments against the stored LSH parameters; servePairs
    // equals the batch minhashLsh over everything
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select($"doc_id", $"text")
    val inc = java.nio.file.Files.createTempDirectory("graft_mh_s").toString
    graft.operators.MinHashIndex.write(docs.where($"doc_id" % 2 === 0), inc)
    val rest = docs.where($"doc_id" % 2 === 1)
      .as[(Long, String)].collect()
    val (h1, h2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, String)]
    val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val q = StreamingOps.ingestStream(graft.operators.MinHashIndex,
      mem.toDF().toDF("doc_id", "text"), inc) { (ep, ok) =>
      applied.synchronized { applied += ((ep, ok)) }
    }
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(applied.synchronized(applied.toList).forall(_._2) &&
      applied.size == 2, s"epochs: $applied")
    val got = graft.operators.MinHashIndex.servePairs(spark, inc)
      .select($"a_id", $"b_id", round($"jaccard", 6))
      .as[(Long, Long, Double)].collect().toSet
    val want = graft.operators.Dedup.minhashLsh(docs)
      .select($"a_id", $"b_id", round($"jaccard", 6))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want && want.nonEmpty,
      "streamed MinHash ingest diverges from the batch operator")
  }

  test("an uninitialized LSM index fails loudly instead of serving empty") {
    val p = java.nio.file.Files.createTempDirectory("graft_lsm_empty").toString
    val err = intercept[IllegalArgumentException] {
      graft.operators.Sq8Index.readAll(spark, p)
    }
    assert(err.getMessage.contains("generation"),
      s"unhelpful message: ${err.getMessage}")
  }

  test("streaming IVF ingest commits one delta segment per epoch, served immediately") {
    // ingest-time sibling of the serve stream: micro-batches of new
    // embeddings land as committed delta segments against the fixed
    // centroids; serveAll equals an index built from everything at once
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val inc = java.nio.file.Files.createTempDirectory("graft_ivf_s").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivf_sf").toString
    graft.operators.IvfIndex.write(e.where($"vec_id" % 2 === 0), seeds, inc)
    graft.operators.IvfIndex.write(e, seeds, full)
    val rest = e.where($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val (h1, h2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val q = StreamingOps.ingestStream(graft.operators.IvfIndex,
      mem.toDF().toDF("vec_id", "embedding"), inc) { (ep, ok) =>
      applied.synchronized { applied += ((ep, ok)) }
    }
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(applied.synchronized(applied.toList).forall(_._2) &&
      applied.size == 2, s"epochs: $applied")
    assert(graft.operators.IvfIndex.committedEpochs(spark, inc) == Seq(0L, 1L))
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    def served(p: String) =
      graft.operators.IvfIndex.serveAll(spark, p, queries, k = 5, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served(inc) == served(full) && served(inc).nonEmpty)
    // a FRESH lineage (no durable checkpoint) against the now-ingested
    // index must fail fast: its epoch ids would restart at 0, collide
    // with the committed markers, and silently skip data
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.ingestStream(graft.operators.IvfIndex,
        mem.toDF().toDF("vec_id", "embedding"), inc)()
    }
    assert(ex.getMessage.contains("checkpointLocation"), ex.getMessage)
  }

  test("stateful aggregation runs on the RocksDB state store provider") {
    // HDFS-backed state lives on the executor heap — a non-starter for
    // 100 TB streaming state. RocksDB spills to local disk with
    // changelog checkpointing; this pins that the engine's stateful
    // operators actually run (and produce identical results) on it.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_rocks").toString
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    // the provider is a session conf captured into the query at start
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q =
      try StreamingOps.windowedEventCounts(df, watermark = "5 minutes", windowLen = "10 minutes")
        .writeStream.format("memory").queryName("rocks_out").outputMode("append")
        .option("checkpointLocation", s"$dir/chk")
        .start()
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(4), "click", 2.0))
      q.processAllAvailable()
      mem.addData((3L, ts(59), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("rocks_out")
        .select("event_type", "n").as[(String, Long)].collect().toSet
      assert(rows.contains(("click", 2L)))
      // the state store actually ran on RocksDB, not the default
      val progress = q.lastProgress.stateOperators
      assert(progress.nonEmpty)
      val used = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(op => Option(op.customMetrics)).exists { m =>
          val it = m.keySet().iterator()
          var found = false
          while (it.hasNext && !found) found = it.next().startsWith("rocksdb")
          found
        }
      assert(used, "no rocksdb custom metrics — provider option did not take effect")
    } finally q.stop()
  }

  test("transformWithState keeps typed per-key state across batches (running max)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_tws").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[StreamingOps.KeyedValue]
    val q =
      try StreamingOps.runningMax(spark, mem.toDS())
        .writeStream.format("memory").queryName("tws_out").outputMode("update")
        .option("checkpointLocation", s"$dir/chk")
        .start()
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    try {
      mem.addData(StreamingOps.KeyedValue(1L, 5.0), StreamingOps.KeyedValue(1L, 3.0),
        StreamingOps.KeyedValue(2L, 7.0))
      q.processAllAvailable()
      // state survives into the next batch: 4.0 must NOT lower key 1's max
      mem.addData(StreamingOps.KeyedValue(1L, 4.0), StreamingOps.KeyedValue(2L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("tws_out")
        .select("key", "max").as[(Long, Double)].collect().toSeq
      assert(rows.sorted == Seq((1L, 5.0), (1L, 5.0), (2L, 7.0), (2L, 9.0)),
        rows.toString)
    } finally q.stop()
  }

  test("foreachBatch sink sees each micro-batch as a batch frame with its epoch id") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = graft.sources.KafkaSources.toForeachBatch(
      mem.toDF().toDF("id", "v"), s"$dir/chk") { (batch, epoch) =>
      // the batch frame is a full batch DataFrame: aggregations work
      seen.synchronized { seen += ((epoch, batch.select("id").as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect().toSeq.sorted)) }
    }.start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val byEpoch = seen.filter(_._2.nonEmpty).sortBy(_._1)
    assert(byEpoch.map(_._2) == Seq(Seq(1L, 2L), Seq(3L)), seen.toString)
    // epoch ids strictly increase (the id foreachBatch dedups on)
    assert(byEpoch.map(_._1) == byEpoch.map(_._1).distinct.sorted)
  }

  test("streaming query restarts from checkpoint with exactly-once output") {
    // the reference's operational contract (sparkpykafkajoin.py:150):
    // a sink with a checkpointLocation must survive a stop/restart —
    // offsets resume from the checkpoint, rows seen before the stop
    // are not re-emitted, and rows that arrived while the query was
    // down are picked up. File source -> transform -> file sink is the
    // fully durable shape of that contract (MemoryStream state would
    // not survive a real process kill).
    import org.apache.spark.sql.functions.{col, round}
    val dir = java.nio.file.Files.createTempDirectory("graft_recover").toString
    val in = s"$dir/in"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(in)

    def startQuery() = spark.readStream
      .schema("id LONG, v STRING").parquet(in)
      .withColumn("doubled", col("id") * 2)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .start()

    // phase 1: process the first two rows, then kill the query
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // data arrives while the query is down
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(in)

    // phase 2: restart from the same checkpoint; more data arrives live
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      Seq((4L, "d")).toDF("id", "v").write.mode("append").parquet(in)
      q2.processAllAvailable()
      // the restarted query resumed batch numbering from the
      // checkpoint instead of starting over at 0
      assert(q2.recentProgress.map(_.batchId).forall(_ >= 1),
        s"restart did not resume from checkpoint: batches=${q2.recentProgress.map(_.batchId).toSeq}")
    } finally q2.stop()

    val out = spark.read.parquet(s"$dir/out")
      .select("id", "v", "doubled").as[(Long, String, Long)].collect().sorted
    // every input row exactly once — no phase-1 replays, no losses
    assert(out.toSeq == Seq(
      (1L, "a", 2L), (2L, "b", 4L), (3L, "c", 6L), (4L, "d", 8L)),
      s"got ${out.toSeq}")
  }

  test("bounded stream-stream join matches in-range pairs and evicts old state") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val lmem = MemoryStream[(Long, Timestamp)]
    val rmem = MemoryStream[(Long, Timestamp)]
    val joined = StreamingOps.boundedStreamStreamJoin(
      lmem.toDF().toDF("l_key", "l_ts"), "l_ts", "5 minutes",
      rmem.toDF().toDF("r_key", "r_ts"), "r_ts", "5 minutes",
      col("l_key") === col("r_key") &&
        col("r_ts").between(expr("l_ts - interval 10 minutes"), col("l_ts")))
    val q = joined.select("l_key", "l_ts", "r_ts")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      lmem.addData((1L, ts(10)), (2L, ts(10)))
      rmem.addData((1L, ts(5)), (2L, ts(30)))
      q.processAllAvailable()
      val rows = spark.table("ssj_out").select("l_key").as[Long].collect().toSet
      assert(rows == Set(1L), s"only the in-range pair joins: $rows")
      // advance both watermarks far past 10:xx, then trigger again so
      // eviction lands: old state must be gone
      lmem.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      rmem.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      q.processAllAvailable()
      lmem.addData((8L, Timestamp.valueOf("2024-01-01 13:01:00")))
      q.processAllAvailable()
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty)
      assert(state(0).numRowsTotal <= 4,
        s"pre-watermark state not evicted: ${state(0).numRowsTotal} rows retained")
    } finally q.stop()
  }

  test("bounded stream-stream LEFT OUTER join emits null-completion after the range closes") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val lmem = MemoryStream[(Long, Timestamp)]
    val rmem = MemoryStream[(Long, Timestamp)]
    // left_outer: unmatched left rows surface only once the watermark
    // proves no in-range right row can still arrive — through the
    // engine's own operator
    val outer = StreamingOps.boundedStreamStreamJoinLeftOuter(
      lmem.toDF().toDF("l_key", "l_ts"), "l_ts", "5 minutes",
      rmem.toDF().toDF("r_key", "r_ts"), "r_ts", "5 minutes",
      col("l_key") === col("r_key") &&
        col("r_ts").between(expr("l_ts - interval 10 minutes"), col("l_ts")))
    val q = outer.select("l_key", "r_key")
      .writeStream.format("memory").queryName("ssj_outer").outputMode("append").start()
    try {
      lmem.addData((1L, ts(10)), (2L, ts(10))) // key 2 will never match
      rmem.addData((1L, ts(5)))
      q.processAllAvailable()
      val early = spark.table("ssj_outer")
        .as[(Long, Option[Long])].collect().toSet
      assert(early.contains((1L, Some(1L))))
      assert(!early.exists(r => r._1 == 2L),
        "null-completion must wait for the watermark, got " + early)
      // advance both watermarks far past the range, then one more
      // batch so the outer-null emission lands
      lmem.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      rmem.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00")))
      q.processAllAvailable()
      lmem.addData((8L, Timestamp.valueOf("2024-01-01 13:01:00")))
      q.processAllAvailable()
      val rows = spark.table("ssj_outer").as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((2L, None)),
        s"unmatched left row never null-completed: $rows")
    } finally q.stop()
  }

  test("stream-static join enriches a stream against a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val facts = mem.toDF().toDF("user_id", "amount")
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("uid", "tier")
    val q = StreamingOps.enrichWithDim(facts, dim, "user_id", "uid")
      .select("user_id", "amount", "tier")
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      mem.addData((7L, 10.0), (9L, 20.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .as[(Long, Double, Option[String])].collect().toSet
      assert(rows == Set((7L, 10.0, Some("gold")), (9L, 20.0, None)))
    } finally q.stop()
  }

  test("streaming SQ8/PQ/binary serve equals each tier's batch index serve per micro-batch") {
    // the IVF serve's three siblings: query vectors arriving over two
    // micro-batches against each persisted tier must produce exactly
    // the batch serveAll rows for the union of queries (per-query top-k
    // is state-free across batches). The snapshot + trained state
    // resolve once at stream start.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{functions => F}
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")

    def runServe[T: org.apache.spark.sql.Encoder](
        queryRows: Seq[T], chk: String,
        start: (org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.DataFrame => Unit) =>
          org.apache.spark.sql.streaming.StreamingQuery,
        toDF: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Int, Double)] = {
      val mem = MemoryStream[T]
      val served = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)]()
      val q = start(toDF(mem.toDF()), { out =>
        served.synchronized { served ++= out.as[(Long, Long, Int, Double)].collect() }
      })
      try {
        mem.addData(queryRows.take(3): _*); q.processAllAvailable()
        mem.addData(queryRows.drop(3): _*); q.processAllAvailable()
      } finally q.stop()
      served.sortBy(r => (r._1, r._3)).toSeq
    }
    def want(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq

    // SQ8: raw float queries (query_id, qv)
    val sq8Path = java.nio.file.Files.createTempDirectory("graft_sq8_srv").toString
    graft.operators.Sq8Index.write(e, sq8Path)
    val floatQs = e.where($"vec_id" < 6)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val sq8Chk = java.nio.file.Files.createTempDirectory("graft_sq8_srv_chk").toString
    val sq8Got = runServe[(Long, Seq[Float])](floatQs, sq8Chk,
      (qdf, sink) => {
        val snapshot = graft.operators.Sq8Index.readAll(spark, sq8Path)
        StreamingOps.foreachBatch(qdf,
          Map("checkpointLocation" -> sq8Chk, "queryName" -> "sq8_serve_test")) { (batch, _) =>
          sink(graft.operators.Sq8Index.serveSnapshot(snapshot, batch, k = 5, salts = 32))
        }
      },
      _.toDF("query_id", "qv"))
    val sq8Want = want(graft.operators.Sq8Index.serveAll(spark, sq8Path,
      e.where($"vec_id" < 6).select($"vec_id".as("query_id"), $"embedding".as("qv")), k = 5))
    assert(sq8Got == sq8Want && sq8Got.nonEmpty, "streamed SQ8 serve diverged from batch serveAll")
    assert(new java.io.File(s"$sq8Chk/commits").list().nonEmpty,
      "checkpointLocation option did not reach the streaming writer")

    // PQ: raw float queries (query_id, q) against the stored codebook
    val pqPath = java.nio.file.Files.createTempDirectory("graft_pq_srv").toString
    val cb = e.where($"vec_id" < 16)
      .select($"vec_id".cast("int").as("cw_k"), $"embedding".as("cw"))
    graft.operators.PqIndex.write(e, cb, pqPath)
    val pqGot = runServe[(Long, Seq[Float])](floatQs,
      java.nio.file.Files.createTempDirectory("graft_pq_srv_chk").toString,
      (qdf, sink) => {
        val (snapshot, codebook, subspaces, subDim) =
          graft.operators.PqIndex.openAll(spark, pqPath)
        StreamingOps.foreachBatch(qdf) { (batch, _) =>
          sink(graft.operators.PqIndex.serveSnapshot(
            snapshot, codebook, subspaces, subDim, batch, k = 5, salts = 32))
        }
      },
      _.toDF("query_id", "q"))
    val pqWant = want(graft.operators.PqIndex.serveAll(spark, pqPath,
      e.where($"vec_id" < 6).select($"vec_id".as("query_id"), $"embedding".as("q")), k = 5))
    assert(pqGot == pqWant && pqGot.nonEmpty, "streamed PQ serve diverged from batch serveAll")

    // binary: PACKED queries (query_id, qsig)
    val binPath = java.nio.file.Files.createTempDirectory("graft_bin_srv").toString
    graft.operators.BinaryIndex.write(e, binPath)
    val packedQs = graft.operators.Similarity.binarySignatures(e.where($"vec_id" < 6))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    val binGot = runServe[(Long, Seq[Long])](packedQs,
      java.nio.file.Files.createTempDirectory("graft_bin_srv_chk").toString,
      (qdf, sink) => {
        val snapshot = graft.operators.BinaryIndex.readAll(spark, binPath)
        StreamingOps.foreachBatch(qdf) { (batch, _) =>
          sink(graft.operators.BinaryIndex.serveSnapshot(snapshot, batch, k = 5, salts = 32))
        }
      },
      _.toDF("query_id", "qsig"))
    val binWant = want(graft.operators.BinaryIndex.serveAll(spark, binPath,
      graft.operators.Similarity.binarySignatures(e.where($"vec_id" < 6))
        .select($"vec_id".as("query_id"), $"sig".as("qsig")), k = 5))
    assert(binGot == binWant && binGot.nonEmpty, "streamed binary serve diverged from batch serveAll")
  }

  test("streaming IVFADC ingest + serve equal the batch tier (delta segments against the stored trained state)") {
    // ingestStream(IvfPqIndex): micro-batches are coarse-assigned and
    // residual-encoded against the index's FIXED stored state and land
    // as committed delta segments — serveAll must equal an index built
    // from everything at once (codes are pure functions of the stored
    // state). The serve stream: query micro-batches against the fixed
    // snapshot must reproduce the batch serveAll rows exactly.
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val seeds = e.where($"vec_id" < 16)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val cb = graft.operators.Similarity.ivfPqSeedCodebook(e, seeds)
    val inc = java.nio.file.Files.createTempDirectory("graft_ivfpq_s").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivfpq_sf").toString
    graft.operators.IvfPqIndex.write(e.where($"vec_id" % 2 === 0), seeds, cb, inc)
    graft.operators.IvfPqIndex.write(e, seeds, cb, full)
    val rest = e.where($"vec_id" % 2 === 1)
      .as[(Long, Seq[Float])].collect()
    val (h1, h2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val q = StreamingOps.ingestStream(graft.operators.IvfPqIndex,
      mem.toDF().toDF("vec_id", "embedding"), inc) { (ep, ok) =>
      applied.synchronized { applied += ((ep, ok)) }
    }
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(applied.synchronized(applied.toList).forall(_._2) &&
      applied.size == 2, s"epochs: $applied")
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    def servedAll(p: String) =
      graft.operators.IvfPqIndex.serveAll(spark, p, queries, k = 5, nProbe = 4)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(servedAll(inc) == servedAll(full) && servedAll(inc).nonEmpty,
      "streamed IVFADC ingest diverged from the all-at-once index")
    // serve stream: two query micro-batches == batch serveAll of the union
    val qRows = e.where($"vec_id" < 6)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val qmem = MemoryStream[(Long, Seq[Float])]
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)]()
    val (snapshot, centroids, codebook, subspaces, subDim) =
      graft.operators.IvfPqIndex.openAll(spark, inc)
    val sq = StreamingOps.foreachBatch(qmem.toDF().toDF("query_id", "q")) { (batch, _) =>
      val b = graft.operators.IvfPqIndex.serveSnapshot(snapshot, centroids,
        codebook, subspaces, subDim, batch, k = 5, nProbe = 4, salts = 32)
      out.synchronized { out ++= b.as[(Long, Long, Int, Double)].collect() }
    }
    try {
      qmem.addData(qRows.take(3): _*); sq.processAllAvailable()
      qmem.addData(qRows.drop(3): _*); sq.processAllAvailable()
    } finally sq.stop()
    val servedStream = out.sortBy(r => (r._1, r._3)).toSeq
    val wantStream = graft.operators.IvfPqIndex.serveAll(spark, inc,
      e.where($"vec_id" < 6).select($"vec_id".as("query_id"), $"embedding".as("q")),
      k = 5, nProbe = 4)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(servedStream == wantStream && servedStream.nonEmpty,
      "streamed IVFADC serve diverged from batch serveAll")
  }

  test("streaming MaxSim ingest + serve equal the batch tier (document-atomic bag segments)") {
    // ingestStream(MaxSimIndex): each micro-batch's token vectors are bagged
    // per document against the index's fixed tokensPerDoc grouping and
    // land as committed delta segments — document-atomic batches (all
    // tokens of a doc in one batch), so serveAll must equal an index
    // built from everything at once. The serve stream: query-bag
    // micro-batches against the fixed snapshot must reproduce batch
    // serveAll exactly.
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val docOf = floor($"vec_id" / 4).cast("long")
    val inc = java.nio.file.Files.createTempDirectory("graft_maxsim_s").toString
    val full = java.nio.file.Files.createTempDirectory("graft_maxsim_sf").toString
    graft.operators.MaxSimIndex.write(e.where(docOf % 2 === 0), inc, tokensPerDoc = 4)
    graft.operators.MaxSimIndex.write(e, full, tokensPerDoc = 4)
    // two doc-atomic epochs: odd docs split by doc % 4
    val h1 = e.where(docOf % 4 === 1).as[(Long, Seq[Float])].collect()
    val h2 = e.where(docOf % 4 === 3).as[(Long, Seq[Float])].collect()
    val mem = MemoryStream[(Long, Seq[Float])]
    val applied = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val q = StreamingOps.ingestStream(graft.operators.MaxSimIndex,
      mem.toDF().toDF("vec_id", "embedding"), inc) { (ep, ok) =>
      applied.synchronized { applied += ((ep, ok)) }
    }
    try {
      mem.addData(h1.toSeq: _*); q.processAllAvailable()
      mem.addData(h2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(applied.synchronized(applied.toList).forall(_._2) &&
      applied.size == 2, s"epochs: $applied")
    val queries = graft.operators.Similarity.tokenBags(e, 4)
      .where($"doc_id" < 4)
      .select($"doc_id".as("query_id"), $"toks".as("qtoks"))
    def servedAll(p: String) =
      graft.operators.MaxSimIndex.serveAll(spark, p, queries, k = 5)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(servedAll(inc) == servedAll(full) && servedAll(inc).nonEmpty,
      "streamed MaxSim ingest diverged from the all-at-once index")
    // serve stream: two query-bag micro-batches == batch serveAll
    val qRows = queries.as[(Long, Seq[Seq[Float]])].collect().sortBy(_._1).toSeq
    val qmem = MemoryStream[(Long, Seq[Seq[Float]])]
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)]()
    val snapshot = graft.operators.MaxSimIndex.readAll(spark, inc)
    val sq = StreamingOps.foreachBatch(qmem.toDF().toDF("query_id", "qtoks")) { (batch, _) =>
      val b = graft.operators.MaxSimIndex.serveSnapshot(snapshot, batch, k = 5, salts = 32)
      out.synchronized { out ++= b.as[(Long, Long, Int, Double)].collect() }
    }
    try {
      qmem.addData(qRows.take(2): _*); sq.processAllAvailable()
      qmem.addData(qRows.drop(2): _*); sq.processAllAvailable()
    } finally sq.stop()
    assert(out.sortBy(r => (r._1, r._3)).toSeq == servedAll(inc),
      "streamed MaxSim serve diverged from batch serveAll")
  }

  test("ingest loop auto-compacts past the epoch threshold; readers on the retained generation stay consistent") {
    // compactEvery = 2 on a streaming SQ8 ingest: every second
    // committed epoch folds the deltas into a new base generation and
    // gc's with retainGens = 1 — so a reader that resolved its
    // snapshot since the PREVIOUS compaction keeps reading one more
    // full cycle while the stream compacts under it, and only the
    // generation two swaps old is retired.
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_sq8_ac").toString
    graft.operators.Sq8Index.write(e.where($"vec_id" % 3 === 0), path)
    val rest = e.where($"vec_id" % 3 =!= 0)
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val chunks = rest.grouped((rest.length + 3) / 4).toSeq
    assert(chunks.size == 4, s"need 4 micro-batches, got ${chunks.size}")
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    def serveNow() = graft.operators.Sq8Index.serveAll(spark, path, queries, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    def dirNames(sub: String) = {
      val d = new java.io.File(s"$path/$sub")
      Option(d.list()).map(_.filterNot(_.startsWith(".")).toSet)
        .getOrElse(Set.empty[String])
    }

    // a serving reader resolves its (base-gen-0-only) snapshot BEFORE
    // the stream starts — it must survive the first compact+gc cycle
    val reader0 = serveNow()
    val reader0Before = rows(reader0)

    val mem = MemoryStream[(Long, Seq[Float])]
    val chk = java.nio.file.Files.createTempDirectory("graft_sq8_ac_chk").toString
    val q = StreamingOps.ingestStream(graft.operators.Sq8Index,
      mem.toDF().toDF("vec_id", "embedding"), path,
      options = Map("checkpointLocation" -> chk), compactEvery = 2)()
    try {
      mem.addData(chunks(0).toSeq: _*); q.processAllAvailable()
      mem.addData(chunks(1).toSeq: _*); q.processAllAvailable()
      // first threshold hit: epochs {0,1} folded into generation 1,
      // gc retained generation 0 for in-flight readers
      assert(graft.operators.LsmSegments.current(spark, path) == (1L, 1L),
        s"first compaction did not fire: ${dirNames("gens")}")
      assert(dirNames("base") == Set("0", "1"), s"base dirs: ${dirNames("base")}")
      assert(rows(reader0) == reader0Before && reader0Before.nonEmpty,
        "pre-compaction reader lost its snapshot after compact+gc(retain=1)")

      // a reader resolved on generation 1 must survive the NEXT cycle
      val reader1 = serveNow()
      val reader1Before = rows(reader1)
      mem.addData(chunks(2).toSeq: _*); q.processAllAvailable()
      mem.addData(chunks(3).toSeq: _*); q.processAllAvailable()
      assert(graft.operators.LsmSegments.current(spark, path) == (2L, 3L),
        s"second compaction did not fire: ${dirNames("gens")}")
      // retainGens = 1: generations {2, 1} kept, generation 0 retired;
      // delta DATA folded into the oldest retained snapshot's fold
      // point (epoch <= 1) retired, epochs {2,3} kept for gen-1
      // readers; ALL epoch markers stay as the replay guard
      assert(dirNames("base") == Set("1", "2"), s"base dirs: ${dirNames("base")}")
      assert(dirNames("deltas") == Set("2", "3"), s"delta dirs: ${dirNames("deltas")}")
      assert(dirNames("epochs") == Set("0", "1", "2", "3"),
        s"epoch markers must outlive compaction: ${dirNames("epochs")}")
      assert(rows(reader1) == reader1Before,
        "gen-1 reader lost its snapshot after the second compact+gc cycle")
    } finally q.stop()

    // the fully-maintained index still serves the exact union
    val got = rows(serveNow())
    val wantAll = rows(graft.operators.Similarity.sq8Knn(e, nQueries = 4, k = 5))
    assert(got == wantAll && got.nonEmpty,
      "auto-compacted index diverges from the in-memory operator over the union")
  }

  test("screening probe streams equal the batch probes (exact union law; minhash per-shard law)") {
    // read-only serving of the dedup indexes: a stream that FLAGS
    // against a fixed indexed corpus without admitting. probeNew is
    // per-document, so the union of streamed hits equals one batch
    // probe of the union; probePairs screens each micro-batch as an
    // independent shard, so each batch's pairs equal the batch
    // operator on that shard.
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select($"doc_id", $"text")
    val idxDocs = docs.where($"doc_id" % 2 === 0)
    val exPath = java.nio.file.Files.createTempDirectory("graft_ex_scr").toString
    val mhPath = java.nio.file.Files.createTempDirectory("graft_mh_scr").toString
    graft.operators.ContentHashIndex.write(idxDocs, exPath)
    graft.operators.MinHashIndex.write(idxDocs, mhPath)
    // re-crawl: re-keyed copies of every 4th doc — all collide with
    // the indexed even half by construction
    val recrawl = docs.where($"doc_id" % 4 === 0)
      .select(($"doc_id" + 500000L).as("doc_id"), $"text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (h1, h2) = recrawl.splitAt(recrawl.length / 2)
    assert(h1.nonEmpty && h2.nonEmpty, "need two non-empty batches")

    // exact screening: streamed hit union == batch probe of the union
    val mem = MemoryStream[(Long, String)]
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = StreamingOps.foreachBatch(mem.toDF().toDF("doc_id", "text")) { (batch, _) =>
      val out = graft.operators.ContentHashIndex.probeNew(spark, exPath, batch)
      hits.synchronized { hits ++= out.as[(Long, Long, Long)].collect() }
    }
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    val wantExact = graft.operators.ContentHashIndex.probeNew(
      spark, exPath, recrawl.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(hits.toSet == wantExact && wantExact.nonEmpty,
      s"exact screening diverged: ${hits.size} vs ${wantExact.size}")

    // minhash screening: each micro-batch == batch probePairs on that shard
    val mem2 = MemoryStream[(Long, String)]
    val pairsSeen = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q2 = StreamingOps.foreachBatch(mem2.toDF().toDF("doc_id", "text")) { (batch, _) =>
      graft.operators.Storage.releasing(
        graft.operators.MinHashIndex.probePairs(spark, mhPath, batch)) { out =>
        pairsSeen.synchronized {
          pairsSeen ++= out.select("a_id", "b_id", "jaccard")
            .as[(Long, Long, Double)].collect()
        }
      }
    }
    def batchPairs(shard: Seq[(Long, String)]): Set[(Long, Long, Double)] = {
      val r = graft.operators.MinHashIndex.probePairs(
        spark, mhPath, shard.toDF("doc_id", "text"))
      try r.select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      finally graft.operators.Storage.unpersistLocalCheckpoint(r)
    }
    try {
      mem2.addData(h1: _*); q2.processAllAvailable()
      val want1 = batchPairs(h1)
      assert(pairsSeen.toSet == want1 && want1.nonEmpty,
        s"shard-1 screening diverged: ${pairsSeen.size} vs ${want1.size}")
      mem2.addData(h2: _*); q2.processAllAvailable()
      assert(pairsSeen.toSet == want1 ++ batchPairs(h2),
        "shard-2 screening diverged")
    } finally q2.stop()
  }

  test("hamming ingest + probe streams equal the batch tier (image signatures)") {
    // ingestStream(HammingIndex): signature micro-batches land as committed
    // delta segments — servePairs must equal an index built from
    // everything at once. The probe stream: each batch's pairs equal
    // the batch probePairs on that shard.
    implicit val sqlCtx = spark.sqlContext
    val sigs = graft.multimodal.Multimodal.imageAHash(
      spark, graft.multimodal.Multimodal.imageAssets(
        spark, spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")))
      .toDF().withColumnRenamed("asset_id", "doc_id").localCheckpoint(true)
    val inc = java.nio.file.Files.createTempDirectory("graft_ham_s").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ham_sf").toString
    graft.operators.HammingIndex.write(sigs.where($"doc_id" % 2 === 0), inc)
    graft.operators.HammingIndex.write(sigs, full)
    val rest = sigs.where($"doc_id" % 2 === 1)
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1).toSeq
    val (h1, h2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, Int, Int, Int, Int)]
    val q = StreamingOps.ingestStream(graft.operators.HammingIndex,
      mem.toDF().toDF("doc_id", "c0", "c1", "c2", "c3"), inc)()
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    def served(p: String) =
      graft.operators.HammingIndex.servePairs(spark, p)
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(served(inc) == served(full) && served(inc).nonEmpty,
      "streamed Hamming ingest diverged from the all-at-once index")
    // probe stream: re-keyed signature copies, per-batch == batch probe
    val shard = sigs.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 5000000L).as("doc_id"), $"c0", $"c1", $"c2", $"c3")
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1).toSeq
    val (s1, s2) = shard.splitAt(shard.length / 2)
    val pmem = MemoryStream[(Long, Int, Int, Int, Int)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val pq = StreamingOps.foreachBatch(
      pmem.toDF().toDF("doc_id", "c0", "c1", "c2", "c3")) { (batch, _) =>
      graft.operators.Storage.releasing(
        graft.operators.HammingIndex.probePairs(spark, inc, batch)) { out =>
        seen.synchronized { seen ++= out.as[(Long, Long, Int)].collect() }
      }
    }
    def batchPairs(sh: Seq[(Long, Int, Int, Int, Int)]) = {
      val r = graft.operators.HammingIndex.probePairs(
        spark, inc, sh.toDF("doc_id", "c0", "c1", "c2", "c3"))
      try r.as[(Long, Long, Int)].collect().toSet
      finally graft.operators.Storage.unpersistLocalCheckpoint(r)
    }
    try {
      pmem.addData(s1: _*); pq.processAllAvailable()
      val want1 = batchPairs(s1)
      assert(seen.toSet == want1 && want1.nonEmpty,
        "shard-1 hamming screening diverged")
      pmem.addData(s2: _*); pq.processAllAvailable()
      assert(seen.toSet == want1 ++ batchPairs(s2),
        "shard-2 hamming screening diverged")
    } finally pq.stop()
  }

  test("semantic screening stream: each micro-batch equals the batch probeSemantic on that shard") {
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_semscr").toString
    graft.operators.IvfIndex.write(e, seeds, path)
    // re-keyed copies of indexed vectors: guaranteed same-list hits
    val recrawl = e.where($"vec_id" % 4 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val (h1, h2) = recrawl.splitAt(recrawl.length / 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = StreamingOps.foreachBatch(mem.toDF().toDF("vec_id", "embedding")) { (batch, _) =>
      graft.operators.Storage.releasing(
        graft.operators.IvfIndex.probeSemantic(spark, path, batch, threshold = 0.9)) { out =>
        seen.synchronized {
          seen ++= out.as[(Long, Long, Double)].collect()
        }
      }
    }
    def batchPairs(shard: Seq[(Long, Seq[Float])]): Set[(Long, Long, Double)] = {
      val r = graft.operators.IvfIndex.probeSemantic(
        spark, path, shard.toDF("vec_id", "embedding"), threshold = 0.9)
      try r.as[(Long, Long, Double)].collect().toSet
      finally graft.operators.Storage.unpersistLocalCheckpoint(r)
    }
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      val want1 = batchPairs(h1)
      assert(seen.toSet == want1 && want1.nonEmpty,
        s"shard-1 semantic screening diverged: ${seen.size} vs ${want1.size}")
      mem.addData(h2: _*); q.processAllAvailable()
      assert(seen.toSet == want1 ++ batchPairs(h2),
        "shard-2 semantic screening diverged")
    } finally q.stop()
  }

  test("record ingest + probe streams equal the batch ER tier") {
    // ingestStream(RecordIndex): record micro-batches land as committed delta
    // segments — a probe against the streamed index must equal one
    // against an all-at-once register. The probe stream: each batch's
    // fuzzy matches equal the batch probeShard on that shard.
    implicit val sqlCtx = spark.sqlContext
    val names = Vector("alpha", "alphb", "alpzb", "beta", "betta", "gamma")
    val reg = (1L to 80L).map(i =>
      (i, names((i % names.size).toInt), s"b${i % 4}"))
    val inc = java.nio.file.Files.createTempDirectory("graft_ri_s").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ri_sf").toString
    graft.operators.RecordIndex.write(
      reg.filter(_._1 % 2 == 0).toDF("id", "name", "block"), inc)
    graft.operators.RecordIndex.write(
      reg.toDF("id", "name", "block"), full)
    val rest = reg.filter(_._1 % 2 == 1)
    val (h1, h2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.ingestStream(graft.operators.RecordIndex,
      mem.toDF().toDF("id", "name", "block"), inc, compactEvery = 2)()
    try {
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    val shard = (200L to 209L).map(i =>
      (i, names((i % names.size).toInt) + "x", s"b${i % 4}"))
    def probed(p: String) =
      graft.operators.RecordIndex.probeShard(
        spark, p, shard.toDF("id", "name", "block"), maxDist = 2)
        .as[(Long, Long, Int)].collect().toSet
    assert(probed(inc) == probed(full) && probed(inc).nonEmpty,
      "streamed record ingest diverged from the all-at-once register")
    // probe stream: per-batch matches == batch probeShard
    val (s1, s2) = shard.splitAt(shard.length / 2)
    val pmem = MemoryStream[(Long, String, String)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val pq = StreamingOps.foreachBatch(pmem.toDF().toDF("id", "name", "block")) { (batch, _) =>
      graft.operators.Storage.releasing(
        graft.operators.RecordIndex.probeShard(spark, inc, batch, maxDist = 2)) { out =>
        seen.synchronized { seen ++= out.as[(Long, Long, Int)].collect() }
      }
    }
    def batchProbe(sh: Seq[(Long, String, String)]) =
      graft.operators.RecordIndex.probeShard(
        spark, inc, sh.toDF("id", "name", "block"), maxDist = 2)
        .as[(Long, Long, Int)].collect().toSet
    try {
      pmem.addData(s1: _*); pq.processAllAvailable()
      val want1 = batchProbe(s1)
      assert(seen.toSet == want1 && want1.nonEmpty,
        "shard-1 record screening diverged")
      pmem.addData(s2: _*); pq.processAllAvailable()
      assert(seen.toSet == want1 ++ batchProbe(s2),
        "shard-2 record screening diverged")
    } finally pq.stop()
  }

  test("reference join pipeline: batch and streaming plans agree on schema") {
    val batch = Seq(("k", "v")).toDF("key", "value")
    val streamed = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, String)]
      graft.pipelines.StediPipelines.customerPipeline(mem.toDF().toDF("key", "value")).schema
    }
    assert(graft.pipelines.StediPipelines.customerPipeline(batch).schema == streamed)
  }

  // -- online capped perceptual clustering ------------------------------

  /** batch capped chain over `sigs` — the law's right-hand side */
  private def cappedChain(
      sigs: Seq[(Long, Long, Long, Long, Long)],
      maxHamming: Int, maxBucket: Int): Map[Long, Long] =
    graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.hammingChunkPairs(
        sigs.toDF("doc_id", "c0", "c1", "c2", "c3"),
        maxHamming, maxBucket))
      .as[(Long, Long)].collect().toMap

  test("online capped clustering law: snapshot == batch capped chain after every batch, retraction included") {
    // four docs share bucket (c0=10) which crosses the cap mid-stream
    // (its pairs must retract but survive via per-chunk buckets), and
    // docs 5/6 pair ONLY through bucket (c0=77), which batch 4
    // saturates — their cluster must VANISH from the snapshot, the
    // non-monotone case an append-only verdict gate cannot express
    val d1 = (1L, 10L, 1L, 0L, 0L)
    val d2 = (2L, 10L, 0L, 1L, 0L)
    val d3 = (3L, 10L, 1L, 1L, 0L)
    val d4 = (4L, 10L, 0L, 0L, 0L)
    val d5 = (5L, 77L, 50L, 60L, 70L)
    val d6 = (6L, 77L, 51L, 61L, 71L) // hamming(d5,d6)=3, shared bucket: c0 only
    val d7 = (7L, 77L, 1000L, 2000L, 3000L) // saturates (0,77); pairs with nothing
    val d8 = (8L, 77L, 5000L, 6000L, 7000L)
    val batches = Seq(Seq(d1, d2), Seq(d3, d5, d6), Seq(d4), Seq(d7, d8))
    val st = StreamingOps.emptyHammingClusterState(
      spark, maxHamming = 3, maxBucket = 3)
    try {
      var soFar = Seq.empty[(Long, Long, Long, Long, Long)]
      batches.zipWithIndex.foreach { case (b, i) =>
        soFar ++= b
        StreamingOps.updateHammingClusters(
          st, b.toDF("doc_id", "c0", "c1", "c2", "c3"))
        val got = st.snapshot.as[(Long, Long)].collect().toMap
        val want = cappedChain(soFar, maxHamming = 3, maxBucket = 3)
        assert(got == want, s"after batch $i: stream $got != batch $want")
      }
      // the scenario actually exercised both non-trivial paths
      val fin = st.snapshot.as[(Long, Long)].collect().toMap
      assert(fin == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
        s"wanted the 5/6 cluster retracted and 1-4 held via chunk buckets, got $fin")
      // re-delivery is a no-op
      StreamingOps.updateHammingClusters(
        st, Seq(d1, d5).toDF("doc_id", "c0", "c1", "c2", "c3"))
      assert(st.snapshot.as[(Long, Long)].collect().toMap == fin)
    } finally st.release()
  }

  test("durable capped clustering: retraction across a kill/resume, cap params guarded") {
    // the strongest durability claim: the bucket that saturates does
    // so in the SECOND lifetime of the query — its occupancy, its
    // members, and the admitted pairs it must take back were all
    // recovered from the durable state store, so the post-resume snapshot
    // only matches the batch capped chain if the whole retraction
    // state survived the kill
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_dur_hcc").toString
    val (src, ckpt, st) = (s"$base/src", s"$base/chk", s"$base/state")
    val sch = "doc_id LONG, c0 LONG, c1 LONG, c2 LONG, c3 LONG"
    @volatile var lastSnap: Map[Long, Long] = Map.empty
    def start() = {
      val stream = spark.readStream.schema(sch).parquet(src)
      StreamingOps.durableHammingClusterMaintenanceStream(
        stream, st, maxHamming = 3, maxBucket = 3,
        options = Map("checkpointLocation" -> ckpt)) { (snap, _) =>
        lastSnap = snap.as[(Long, Long)].collect().toMap
      }
    }
    val b1 = Seq((1L, 10L, 1L, 0L, 0L), (2L, 10L, 0L, 1L, 0L),
      (5L, 77L, 50L, 60L, 70L), (6L, 77L, 51L, 61L, 71L))
    val b2 = Seq((3L, 10L, 1L, 1L, 0L), (4L, 10L, 0L, 0L, 0L),
      (7L, 77L, 1000L, 2000L, 3000L), (8L, 77L, 5000L, 6000L, 7000L))
    b1.toDF("doc_id", "c0", "c1", "c2", "c3")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(lastSnap == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L),
      s"pre-restart clusters wrong: $lastSnap")
    // KILL happened; batch 2 crosses BOTH hot buckets past the cap:
    // (0,10)/(3,0) retract but docs 1-4 survive via per-chunk
    // buckets, while the 5/6 cluster must vanish outright
    b2.toDF("doc_id", "c0", "c1", "c2", "c3")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val want = cappedChain(b1 ++ b2, maxHamming = 3, maxBucket = 3)
    assert(lastSnap == want && want == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"post-resume $lastSnap != batch capped chain $want")
    // resuming under different cap parameters fails loudly
    val e = intercept[IllegalArgumentException] {
      StreamingOps.durableHammingClusterMaintenanceStream(
        spark.readStream.schema(sch).parquet(src), st,
        maxHamming = 3, maxBucket = 32,
        options = Map("checkpointLocation" -> ckpt)) { (_, _) => () }
    }
    assert(e.getMessage.contains("maxBucket"), e.getMessage)
  }

  test("hammingClusterMaintenanceStream: streamed signatures maintain the capped clustering") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Long)]
    val snaps = scala.collection.mutable.Map[Long, Map[Long, Long]]()
    val q = StreamingOps.hammingClusterMaintenanceStream(
      mem.toDF().toDF("doc_id", "c0", "c1", "c2", "c3"),
      maxHamming = 3, maxBucket = 3) { (snap, epoch) =>
      snaps.synchronized {
        snaps(epoch) = snap.as[(Long, Long)].collect().toMap
      }
    }
    try {
      mem.addData((1L, 10L, 1L, 0L, 0L), (2L, 10L, 0L, 1L, 0L))
      q.processAllAvailable()
      mem.addData((3L, 10L, 1L, 1L, 0L), (4L, 10L, 0L, 0L, 0L))
      q.processAllAvailable()
      val last = snaps.synchronized(snaps(snaps.keys.max))
      val want = cappedChain(
        Seq((1L, 10L, 1L, 0L, 0L), (2L, 10L, 0L, 1L, 0L),
          (3L, 10L, 1L, 1L, 0L), (4L, 10L, 0L, 0L, 0L)),
        maxHamming = 3, maxBucket = 3)
      assert(last == want && want.nonEmpty, s"stream $last != batch $want")
    } finally q.stop()
  }
}
