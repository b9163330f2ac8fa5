package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for a root); times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

/** Spark scheduler ledger: jobs, stages and task metrics, each job tagged
  * with the catalog query that submitted it (the `perfbench.query` local
  * property) and with the program module that issued it.
  *
  * A job's module is the first `graft` source file in its call site, so
  * an operator's eager rounds are charged to that operator's file; a job
  * whose call site holds no program frame was issued by the benchmark's
  * own sink write and is charged to `sink`. */
final class JobLedger extends SparkListener {
  final case class Job(id: Int, query: String, module: String, start: Long,
      stages: Seq[Int], var end: Long = -1L)
  final case class Stage(id: Int, var submitted: Long = -1L,
      var completed: Long = -1L, var tasks: Int = 0, var runMs: Long = 0L,
      var cpuNs: Long = 0L, var gcMs: Long = 0L, var shuffleWrite: Long = 0L,
      var spill: Long = 0L)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  private def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim)
      .find(f => f.startsWith("graft.") && f.contains(".scala:"))
      .map(f => JobLedger.module(f.takeWhile(_ != '('),
        f.substring(f.lastIndexOf('(') + 1, f.indexOf(".scala:"))))
      .getOrElse("sink")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val query = props.flatMap(p => Option(p.getProperty("perfbench.query"))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, query, moduleOf(site), e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, _ => Stage(id))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  /** The stages of `js` that ran (a skipped stage is never submitted). */
  def stagesOf(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stages).distinct.sorted.flatMap(id => Option(stages.get(id)))
      .filter(_.submitted > 0)
}

/** Tracing overhead from (untraced, traced, untraced) timings of the same
  * unit of work run back to back: the median over units of the traced
  * time against the mean of its two untraced neighbours, minus 1. The
  * noise share is the median gap between the two untraced times, on the
  * same scale; an overhead inside it is not resolved. */
object Overhead {
  def apply(triplets: Seq[(Double, Double, Double)]): Map[String, Double] = {
    val base = triplets.map { case (u1, _, u2) => (u1 + u2) / 2 }
    Map(
      "trace.overhead_share" ->
        Stats.median(triplets.zip(base).map { case ((_, t, _), b) => t / b - 1 }),
      "trace.overhead_noise_share" ->
        Stats.median(triplets.zip(base).map { case ((u1, _, u2), b) => math.abs(u2 - u1) / b }))
  }
}

object JobLedger {
  /** The ten durable index tiers, reported as one module. */
  val indexTiers = Set("BinaryIndex", "ContentHashIndex", "HammingIndex",
    "IvfIndex", "IvfPqIndex", "MaxSimIndex", "MinHashIndex", "PqIndex",
    "RecordIndex", "Sq8Index")
  /** Operators reported under their own name. */
  val namedOperators = Seq("Graph", "Dedup", "Similarity", "LsmSegments",
    "Admission", "RecordAdmission", "EntityResolution", "Bpe", "Dsir", "Storage")
  /** Every module a job can be charged to, in report order. */
  val modules: Seq[String] = namedOperators ++ Seq("IndexTiers",
    "operators_other", "Multimodal", "functions", "queries", "ops",
    "streaming", "Tables", "other", "sink")

  /** Jobs and job seconds per module, per unit of work. */
  def moduleMetrics(jobs: Seq[JobLedger#Job], per: Double): Seq[(String, Double)] = {
    val byModule = jobs.groupBy(_.module)
    modules.flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      Seq(s"jobs.$m" -> js.size / per,
        s"job_s.$m" -> js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0 / per)
    }
  }

  /** Module of a stack frame, from its fully qualified method and the
    * source file it names. */
  def module(frame: String, file: String): String = {
    val pkg = frame.split('.').drop(1).headOption.getOrElse("")
    pkg match {
      case "operators" if indexTiers(file) => "IndexTiers"
      case "operators" if namedOperators.contains(file) => file
      case "operators" => "operators_other"
      case "multimodal" => "Multimodal"
      case "functions" | "queries" | "streaming" => pkg
      case "ops" | "pipelines" => "ops"
      case _ if file == "Tables" => "Tables"
      case _ => "other"
    }
  }
}

/** Union length of [start, end) intervals clipped to [lo, hi). */
object Intervals {
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** In-memory span store, written as JSON lines when the run ends. Each
  * span carries its self time: its duration minus the part its child
  * spans cover. */
final class SpanLog {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Int = {
    val xs = all
    val children = xs.groupBy(_.parent)
    val lines = xs.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val self = (s.end - s.start) - Intervals.covered(kids, s.start, s.end)
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self) ++ s.attrs)
    }
    java.nio.file.Files.write(path, lines.asJava)
    xs.size
  }
}
