package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.pipelines.{StediPipelines, WireFixtures}

/** The STEDI stream workload: `StediPipelines.joinPipeline` (no
  * watermark, as the reference runs it) as a live micro-batch query over
  * two in-memory topics, fed from `WireFixtures`.
  *
  * Every customer envelope is written first. A generator thread then
  * writes risk events on a fixed schedule (open loop) at `rate` events/s,
  * interleaved with customer re-writes and non-customer Redis writes at
  * fixed shares of the events; the seed fixes the event order, which
  * customers are re-written and when each Redis write falls. Each event's
  * creation time is the time it was due, so a stalled generator shows as
  * latency. Latency runs from an event's creation to the end of the
  * micro-batch that emitted its first joined row. After the open loop,
  * `bursts` bursts of `burst` events each measure how long one burst
  * takes to drain.
  *
  * A traced run attaches its listeners for the whole open loop. It then
  * drains `trace_triplets` (untraced, traced, untraced) triples of bursts,
  * which give the tracing overhead. */
final class StediStream(spark: SparkSession, conf: Conf) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val rate = conf.int("rate")
  // The generator writes once per tick, like a producer that batches for
  // up to this long: each write becomes one input partition of the
  // in-memory topic, so per-record writes would make the partition count
  // grow with the batch interval.
  private val tickMs = conf.int("tick_ms")
  private val burst = conf.int("burst")
  private val bursts = conf.int("bursts")
  private val rng = new Random(conf.seed)
  private val phases = mutable.LinkedHashMap[String, Double]()
  private var phaseStart = System.nanoTime()
  private def phase(name: String): Unit = {
    phases(name) = (System.nanoTime() - phaseStart) / 1e9
    phaseStart = System.nanoTime()
  }

  private def rows(df: DataFrame): Array[(String, String)] =
    df.select($"key".cast("string"), $"value".cast("string")).as[(String, String)]
      .collect().sortBy(_._2)
  private val customers = rows(WireFixtures.redisTopicFrame(spark, conf.data))
  private val events = rng.shuffle(rows(WireFixtures.stediTopicFrame(spark, conf.data)).toSeq).toArray
  private val rewriteShare = conf("rewrite_share").toDouble
  private val noiseShare = conf("noise_share").toDouble
  phase("fixtures")

  /** A Redis write that is not a customer record: it carries no email or
    * birthDay, so the decode chain must drop it. */
  private def nonCustomer(i: Int): (String, String) = {
    val inner = s"""{"reservationId":"$i","truckNumber":"${i % 97}","customerName":"Visitor $i"}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(inner.getBytes("UTF-8"))
    ("UmVzZXJ2YXRpb24=", s"""{"key":"UmVzZXJ2YXRpb24=","existType":"NONE","Ch":false,""" +
      s""""Incr":false,"zSetEntries":[{"element":"$b64","Score":"0.0"}]}""")
  }

  // an event and its joined rows share (customer, score)
  private val eventKeyRe = """"customer":"([^"]*)","score":([^,}]*)""".r
  private val outputKeyRe = """"customer":"([^"]*)","score":"([^"]*)"""".r
  private def key(re: scala.util.matching.Regex, json: String): String =
    re.findFirstMatchIn(json).map(m => m.group(1) + "|" + m.group(2)).orNull

  final case class Emitted(batch: Long, endMs: Long, rows: Array[String])
  final case class Progress(batch: Long, startMs: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long, stateMemBytes: Long, commitMs: Long)

  /** One scheduled write, due `dueMs` after the phase start: a risk event
    * (index into `events`) or, when `event` is -1, a Redis write. */
  final case class Write(dueMs: Double, event: Int, redis: (String, String))

  private val redisMem = MemoryStream[(String, String)]
  private val stediMem = MemoryStream[(String, String)]
  private val fedRedis = mutable.ArrayBuffer[(String, String)]()
  private val fedEvents = mutable.ArrayBuffer[(String, String)]()

  private def progressListener(progress: ConcurrentLinkedQueue[Progress]) =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L)))
      }
    }

  /** Runs `body` with a job ledger and a progress listener attached, and
    * detaches both once the ledger has every job's end. */
  private def traced[T](ledger: JobLedger, progress: ConcurrentLinkedQueue[Progress])(body: => T): T = {
    val listener = progressListener(progress)
    spark.sparkContext.addSparkListener(ledger)
    spark.streams.addListener(listener)
    try body finally {
      Catalog.drain(ledger)
      spark.sparkContext.removeSparkListener(ledger)
      spark.streams.removeListener(listener)
    }
  }

  def run(): Map[String, Any] = {
    val emitted = new ConcurrentLinkedQueue[Emitted]()
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val out = df.collect().map(_.getString(0))
      emitted.add(Emitted(id, System.currentTimeMillis(), out))
    }
    val query = StediPipelines.joinPipeline(
        redisMem.toDF().toDF("key", "value"), stediMem.toDF().toDF("key", "value"))
      .writeStream
      .option("checkpointLocation", conf.root.resolve("checkpoints/stedi").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(sink)
      .start()
    def drainBurst(): Double = {
      val chunk = events.slice(fedEvents.size, fedEvents.size + burst)
      if (chunk.length < burst)
        throw new IllegalStateException(s"the fixture holds too few events for a burst of $burst")
      val t0 = System.nanoTime()
      // one write, so the whole burst lands in one micro-batch: split
      // writes let a trigger fire between them, and some bursts then
      // drained in two micro-batches at twice the time
      stediMem.addData(chunk.toSeq)
      fedEvents ++= chunk
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }
    try {
      redisMem.addData(customers.toSeq)
      fedRedis ++= customers
      query.processAllAvailable()
      // one untimed burst warms the risk-event decode and join probe
      // paths, which the customer preload leaves cold
      drainBurst()
      val preloadBatches = emitted.size
      phase("preload")

      val progress = new ConcurrentLinkedQueue[Progress]()
      val ledger = new JobLedger
      val tracedFromMs = System.currentTimeMillis()
      val plan = schedule(fedEvents.size, (rate * conf.seconds).toInt, conf.seconds)
      val gen = new Generator(plan)
      def openLoop(): Long = {
        var backlogMax = 0L
        gen.start()
        while (gen.isAlive) {
          gen.join(50)
          if (conf.traced)
            backlogMax = math.max(backlogMax, gen.sent - progress.asScala.map(_.inputRows).sum)
        }
        if (gen.error != null) throw gen.error
        query.processAllAvailable()
        backlogMax
      }
      val backlogMax = if (conf.traced) traced(ledger, progress)(openLoop()) else openLoop()
      val loopOut = emitted.asScala.toSeq.drop(preloadBatches)
      phase("open_loop")

      // a traced run drains its bursts in triples instead, and its
      // untraced bursts stand for the drain times
      val triplets = if (!conf.traced) Nil else (0 until conf.int("trace_triplets")).map { _ =>
        val u1 = drainBurst()
        val t = traced(new JobLedger, new ConcurrentLinkedQueue[Progress]())(drainBurst())
        (u1, t, drainBurst())
      }
      val burstMs = if (conf.traced) triplets.flatMap { case (u1, _, u2) => Seq(u1, u2) }
        else (0 until bursts).map(_ => drainBurst())
      val heapMb = Main.heapAfterGcMb()
      query.stop()
      phase("bursts")

      val latencies = latency(plan, gen.startMs, loopOut)
      val (failed, mismatch) = check(emitted.asScala.toSeq.flatMap(_.rows))
      phase("check")
      val layers = if (!conf.traced) Map.empty[String, Any] else
        traceLayers(ledger, progress.asScala.toSeq, tracedFromMs, backlogMax, gen.lateMaxMs) ++
          Overhead(triplets) ++ opsRates()
      Map(
        "latency_ms" -> latencies,
        "batches" -> loopOut.map(_.batch).distinct.size,
        "burst_ms" -> burstMs,
        "burst_events" -> burst,
        "triplets_ms" -> triplets.map { case (a, b, c) => Seq(a, b, c) },
        "peak_heap_mb" -> heapMb,
        "attempted" -> fedEvents.size,
        "failed" -> failed,
        "mismatch" -> mismatch,
        "phases_s" -> phases,
        "layers" -> layers)
    } finally if (query.isActive) query.stop()
  }

  private def schedule(from: Int, n: Int, seconds: Double): Seq[Write] = {
    val ev = (0 until n).map(i => Write(i * 1000.0 / rate, from + i, null))
    val redis = Seq.fill((n * rewriteShare).toInt)(customers(rng.nextInt(customers.length))) ++
      (0 until (n * noiseShare).toInt).map(i => nonCustomer(from + i))
    (ev ++ redis.map(r => Write(rng.nextDouble() * seconds * 1000.0, -1, r))).sortBy(_.dueMs)
  }

  /** Writes each tick's due records, then sleeps to the next tick. */
  final class Generator(plan: Seq[Write]) extends Thread("perfbench-generator") {
    @volatile var error: Throwable = null
    @volatile var lateMaxMs = 0.0
    @volatile var sent = 0L
    @volatile var startMs = 0L
    override def run(): Unit = try {
      val t0 = System.nanoTime()
      startMs = System.currentTimeMillis()
      var i = 0
      while (i < plan.size) {
        val nowMs = (System.nanoTime() - t0) / 1e6
        var j = i
        while (j < plan.size && plan(j).dueMs <= nowMs) j += 1
        if (j > i) {
          lateMaxMs = math.max(lateMaxMs, nowMs - plan(j - 1).dueMs - tickMs)
          val (ev, rd) = plan.slice(i, j).partition(_.event >= 0)
          if (rd.nonEmpty) { redisMem.addData(rd.map(_.redis)); fedRedis ++= rd.map(_.redis) }
          if (ev.nonEmpty) {
            val rows = ev.map(w => events(w.event))
            stediMem.addData(rows)
            fedEvents ++= rows
          }
          sent += j - i
          i = j
        }
        val waitMs = (math.floor(nowMs / tickMs) + 1) * tickMs - (System.nanoTime() - t0) / 1e6
        if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
      }
    } catch { case e: Throwable => error = e }
  }

  /** Each scheduled event's latency: from its due time to the end of the
    * first micro-batch whose output holds its joined row. Later copies of
    * the row (from customer re-writes) are ignored. */
  private def latency(plan: Seq[Write], startMs: Long, out: Seq[Emitted]): Seq[Double] = {
    val seen = mutable.HashMap[String, mutable.Queue[Long]]()
    out.sortBy(_.batch).foreach { e =>
      e.rows.foreach(r => seen.getOrElseUpdate(key(outputKeyRe, r), mutable.Queue[Long]()) += e.endMs)
    }
    plan.filter(_.event >= 0).flatMap { w =>
      seen.get(key(eventKeyRe, events(w.event)._2)).filter(_.nonEmpty)
        .map(q => q.dequeue() - (startMs + w.dueMs))
    }
  }

  /** Compares the stream's joined JSON multiset with the batch pipeline
    * over exactly the records fed. Returns (failed, detail): rows missing
    * or unexpected, capped at the events fed. */
  private def check(got: Seq[String]): (Int, String) = {
    val expected = StediPipelines.joinPipeline(
      fedRedis.toSeq.toDF("key", "value"), fedEvents.toSeq.toDF("key", "value"))
      .as[String].collect().toSeq
    def counts(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val (e, g) = (counts(expected), counts(got))
    val missing = e.map { case (k, n) => math.max(0, n - g.getOrElse(k, 0)) }.sum
    val extra = g.map { case (k, n) => math.max(0, n - e.getOrElse(k, 0)) }.sum
    val failed = math.min(fedEvents.size, missing + extra)
    (failed, if (failed == 0) "" else
      s"expected ${expected.size} rows, got ${got.size}: $missing missing, $extra unexpected")
  }

  private def traceLayers(ledger: JobLedger, progress: Seq[Progress], fromMs: Long,
      backlogMax: Long, lateMs: Double): Map[String, Any] = {
    val ps = progress.filter(_.startMs >= fromMs)
    val n = math.max(1, ps.size).toDouble
    def p50(keys: String*) = Stats.median(ps.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum.toDouble))
    val jobs = ledger.jobList.filter(_.start >= fromMs)
    val stages = ledger.stagesOf(jobs)
    val jobIvs = jobs.map(j => (j.start, math.max(j.start, j.end)))
    val spans = new SpanLog
    // micro-batch phases in the order the engine runs them
    val batches = ps.map { p =>
      val id = spans.nextId()
      val end = p.startMs + p.durations.getOrElse("triggerExecution", 0L)
      spans.add(Span(id, 0, "microbatch", s"batch ${p.batch}", p.startMs, end,
        Map("input_rows" -> p.inputRows, "state_rows" -> p.stateRows)))
      var t = p.startMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = p.durations.getOrElse(k, 0L)
          if (d > 0) spans.add(Span(spans.nextId(), id, "phase", k, t, t + d))
          t += d
        }
      (id, p.startMs, end)
    }
    jobs.foreach { j =>
      val parent = batches.find { case (_, a, b) => j.start >= a && j.start <= b }.map(_._1).getOrElse(0L)
      spans.add(Span(spans.nextId(), parent, "job", s"job ${j.id}", j.start,
        math.max(j.start, j.end), Map("module" -> j.module)))
    }
    val batchWall = batches.map { case (_, a, b) => b - a }.sum
    val covered = batches.map { case (_, a, b) => Intervals.covered(jobIvs, a, b) }.sum
    val nSpans = spans.write(conf.root.resolve("spans.jsonl"))
    val runS = stages.map(_.runMs).sum / 1000.0
    val last = ps.lastOption
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.size / n,
      "spark.tasks" -> stages.map(_.tasks).sum / n,
      "spark.driver_gap_s" -> (batchWall - covered) / 1000.0 / n,
      "spark.executor_run_s" -> runS / n,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / n,
      "spark.core_busy_share" -> runS * 1000.0 / (math.max(1L, batchWall).toDouble * conf.cores),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1048576.0 / n,
      "spark.spill_mb" -> stages.map(_.spill).sum / 1048576.0 / n,
      "spark.persisted_rdds_left" -> spark.sparkContext.getPersistentRDDs.size,
      "stream.batches" -> ps.size,
      "stream.batch_ms_p50" -> p50("triggerExecution"),
      "stream.planning_ms_p50" -> p50("queryPlanning"),
      "stream.wal_ms_p50" -> p50("walCommit", "commitOffsets"),
      "stream.source_ms_p50" -> p50("latestOffset", "getBatch"),
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.state_rows_end" -> last.map(_.stateRows).getOrElse(0L),
      "stream.state_mem_mb_end" -> last.map(_.stateMemBytes / 1048576.0).getOrElse(0.0),
      "stream.state_commit_ms_p50" -> Stats.median(ps.map(_.commitMs.toDouble)),
      "stream.backlog_max_events" -> backlogMax,
      "stream.generator_late_ms_max" -> lateMs,
      "trace.spans" -> nSpans) ++ JobLedger.moduleMetrics(jobs, n)
  }

  /** Batch throughput of each pipeline stage over the fixture frames, in
    * input records per second: median of three timed calls each. */
  private def opsRates(): Map[String, Any] = {
    val redis = customers.toSeq.toDF("key", "value").cache()
    val stedi = events.toSeq.toDF("key", "value").cache()
    redis.count(); stedi.count()
    def eps(rows: Long)(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t0) / 1e9)
    })
    try Map(
      "ops.customer_decode_eps" -> eps(customers.length)(StediPipelines.customerPipeline(redis)),
      "ops.risk_decode_eps" -> eps(events.length)(StediPipelines.riskPipeline(stedi)),
      "ops.join_eps" -> eps(customers.length + events.length)(StediPipelines.joinPipeline(redis, stedi)))
    finally { redis.unpersist(); stedi.unpersist() }
  }
}
