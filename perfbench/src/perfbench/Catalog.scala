package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed-loop catalog workload: one client thread runs every listed
  * query, one after the other, each written to the noop sink; the next
  * query starts only when the previous one has finished. */
final class Catalog(spark: SparkSession, conf: Conf) {
  private val created = System.nanoTime()
  private val sc = spark.sparkContext
  private val data = conf.data
  private val catalog = SparkEntry.queries
  private val names: Seq[String] =
    if (conf("queries") == "*") catalog.keys.toSeq.sorted else conf.list("queries")
  private val missing = names.filterNot(catalog.contains)
  if (missing.nonEmpty)
    throw new NoSuchElementException(
      s"listed queries missing from SparkEntry.queries: ${missing.mkString(", ")}")

  final case class Sample(pass: Int, name: String, traced: Boolean, startMs: Long,
      endMs: Long, buildNs: Long, sinkNs: Long, written: Long, error: String) {
    def totalMs: Double = (buildNs + sinkNs) / 1e6
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def runOne(name: String, pass: Int, traced: Boolean,
      sink: DataFrame => Unit): Sample = {
    // untraced executions carry their own tag, so events of theirs the
    // listener bus still holds when a ledger is attached are not counted
    sc.setLocalProperty("perfbench.query", if (traced) s"$name#$pass" else s"$name#$pass#u")
    val w0 = Main.writtenBytes()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var error: String = null
    try {
      val df = catalog(name)(spark, data)
      t1 = System.nanoTime()
      sink(df)
    } catch { case e: Throwable => error = e.toString }
    val t2 = System.nanoTime()
    if (t1 < 0) t1 = t2
    sc.setLocalProperty("perfbench.query", null)
    Sample(pass, name, traced, startMs, System.currentTimeMillis(), t1 - t0, t2 - t1,
      Main.writtenBytes() - w0, error)
  }

  /** Each listed query once, its result written as parquet for
    * the oracle comparison, plus the oracle SQL of the listed queries. */
  private def outputsForCheck(): Seq[Sample] = {
    val dir = conf.root.resolve("outputs")
    val samples = names.map(n => runOne(n, 0, traced = false,
      df => df.write.mode("overwrite").parquet(dir.resolve(n).toString)))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), Json.render(oracles))
    samples
  }

  /** Whole passes, each in a seed-permuted order, until `seconds` have
    * passed and at least `minPasses` are done; `each` runs one query of a
    * pass. Heap after GC is read between passes, outside the pass times. */
  private def passes(seconds: Double, minPasses: Int, passMs: mutable.Buffer[Double],
      heap: mutable.Buffer[Double])(each: (String, Int) => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 1
    while (pass - 1 < minPasses || System.nanoTime() < deadline) {
      val order = new Random(conf.seed * 7919L + pass).shuffle(names)
      val t0 = System.nanoTime()
      order.foreach(n => each(n, pass))
      passMs += (System.nanoTime() - t0) / 1e6
      heap += Main.heapAfterGcMb()
      pass += 1
    }
    pass - 1
  }

  def run(): Map[String, Any] = {
    val check = outputsForCheck()
    val checkS = (System.nanoTime() - created) / 1e9
    // One untimed pass first: after the check pass alone, a query's next
    // executions were still getting faster (a second pass ran about 10%
    // faster than the first).
    val warm = names.map(n => runOne(n, 0, traced = false, noop))
    val warmS = (System.nanoTime() - created) / 1e9 - checkS
    val samples = mutable.Buffer[Sample]()
    val passMs = mutable.Buffer[Double]()
    val heap = mutable.Buffer[Double]()
    var layers = Map.empty[String, Any]
    var nPasses = 0
    val triplets = mutable.Buffer[(Double, Double, Double)]()
    if (!conf.traced) nPasses = passes(conf.seconds, 2, passMs, heap) { (n, pass) =>
      samples += runOne(n, pass, traced = false, noop)
    } else {
      // After one warm-up execution, each query runs three times in a
      // row: untraced, traced, untraced. The traced execution alone has
      // the ledger attached, so the tracing overhead compares runs that
      // differ only in tracing, and the two untraced runs give the noise
      // it must exceed. Without the warm-up, the first of the three ran
      // slowest, which read as a large negative overhead.
      val ledger = new JobLedger
      var tracedMs = 0.0
      nPasses = passes(conf.seconds, 1, mutable.Buffer[Double](), heap) { (n, pass) =>
        samples += runOne(n, pass, traced = false, noop)
        val u1 = runOne(n, pass, traced = false, noop)
        sc.addSparkListener(ledger)
        val t = runOne(n, pass, traced = true, noop)
        Catalog.drain(ledger)
        sc.removeSparkListener(ledger)
        val u2 = runOne(n, pass, traced = false, noop)
        samples ++= Seq(u1, t, u2)
        triplets += ((u1.totalMs, t.totalMs, u2.totalMs))
        tracedMs += t.endMs - t.startMs
      }
      layers = traceLayers(ledger, samples.filter(_.traced).toSeq, nPasses,
        tracedMs, sc.getPersistentRDDs.size) ++ Overhead(triplets.toSeq)
    }
    val timed = samples.filterNot(_.traced).toSeq
    Map(
      "check_failures" -> check.filter(_.error != null).map(s => s.name -> s.error).toMap,
      "failures" -> (warm ++ samples).filter(_.error != null)
        .map(s => s"${s.name}#${s.pass}" -> s.error).toMap,
      "attempted" -> (check.size + warm.size + samples.size),
      "passes" -> nPasses,
      "triplets_ms" -> triplets.map { case (a, b, c) => Seq(a, b, c) },
      "pass_ms" -> passMs.toSeq,
      "phases_s" -> Map("check_pass" -> checkS, "warm_pass" -> warmS,
        "timed" -> ((System.nanoTime() - created) / 1e9 - checkS - warmS)),
      "per_query_ms" -> timed.groupBy(_.name).map { case (k, v) => k -> v.map(_.totalMs) },
      "peak_heap_mb" -> heap.max,
      "layers" -> layers)
  }

  private def traceLayers(ledger: JobLedger, traced: Seq[Sample], nPasses: Int,
      wallMs: Double, persisted: Int): Map[String, Any] = {
    val per = math.max(1, nPasses).toDouble
    val tags = traced.map(s => s"${s.name}#${s.pass}").toSet
    val jobs = ledger.jobList.filter(j => tags(j.query))
    val stages = ledger.stagesOf(jobs)
    val jobsByTag = jobs.groupBy(_.query)
    val spans = new SpanLog
    var gapMs = 0L
    traced.foreach { s =>
      val qid = spans.nextId()
      val qJobs = jobsByTag.getOrElse(s"${s.name}#${s.pass}", Nil)
      val ivs = qJobs.map(j => (j.start, if (j.end < 0) s.endMs else j.end))
      gapMs += (s.endMs - s.startMs) - Intervals.covered(ivs, s.startMs, s.endMs)
      spans.add(Span(qid, 0, "query", s.name, s.startMs, s.endMs, Map(
        "pass" -> s.pass, "build_ms" -> s.buildNs / 1e6, "sink_ms" -> s.sinkNs / 1e6,
        "jobs" -> qJobs.size)))
      qJobs.foreach { j =>
        val jid = spans.nextId()
        spans.add(Span(jid, qid, "job", s"job ${j.id}", j.start, math.max(j.start, j.end),
          Map("module" -> j.module)))
        j.stages.flatMap(id => Option(ledger.stages.get(id))).filter(_.submitted > 0).foreach { st =>
          spans.add(Span(spans.nextId(), jid, "stage", s"stage ${st.id}", st.submitted,
            math.max(st.submitted, st.completed), Map("tasks" -> st.tasks,
              "run_ms" -> st.runMs)))
        }
      }
    }
    val nSpans = spans.write(conf.root.resolve("spans.jsonl"))
    val runS = stages.map(_.runMs).sum / 1000.0
    def writtenMb(group: Set[String]): Double =
      traced.filter(s => group(s.name)).map(_.written).sum / 1048576.0 / per
    Map(
      "spark.jobs" -> jobs.size / per,
      "spark.stages" -> stages.size / per,
      "spark.tasks" -> stages.map(_.tasks).sum / per,
      "spark.driver_gap_s" -> gapMs / 1000.0 / per,
      "spark.executor_run_s" -> runS / per,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / per,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / per,
      "spark.core_busy_share" -> runS * 1000.0 / (wallMs * conf.cores),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1048576.0 / per,
      "spark.spill_mb" -> stages.map(_.spill).sum / 1048576.0 / per,
      "spark.persisted_rdds_left" -> persisted,
      "queries.build_s" -> traced.map(_.buildNs).sum / 1e9 / per,
      "queries.sink_s" -> traced.map(_.sinkNs).sum / 1e9 / per,
      "io.write_mb" -> traced.map(_.written).sum / 1048576.0 / per,
      "io.write_mb.lsm" -> writtenMb(conf.list("lsm").toSet),
      "trace.spans" -> nSpans) ++ JobLedger.moduleMetrics(jobs, per)
  }

  /** Every listed query once, in name order, with its Spark jobs and
    * stages counted: the ledger the workload lists are selected from. */
  def ledger(): Map[String, Any] = {
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    val samples = names.sorted.map(n => runOne(n, 1, traced = true, noop))
    Catalog.drain(ledger)
    sc.removeSparkListener(ledger)
    val byTag = ledger.jobList.groupBy(_.query)
    Map("ledger" -> samples.map { s =>
      val js = byTag.getOrElse(s"${s.name}#1", Nil)
      s.name -> Map("wall_s" -> s.totalMs / 1000.0, "jobs" -> js.size,
        "stages" -> js.flatMap(_.stages).distinct.count(id =>
          Option(ledger.stages.get(id)).exists(_.submitted > 0)),
        "error" -> s.error)
    }.toMap)
  }
}

object Catalog {
  /** Waits until the asynchronous listener bus has delivered every job's
    * end event (bounded, so a lost event cannot hang the run). */
  def drain(ledger: JobLedger): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    Thread.sleep(200)
    while (ledger.jobList.exists(_.end < 0) && System.nanoTime() < deadline) Thread.sleep(50)
  }
}
