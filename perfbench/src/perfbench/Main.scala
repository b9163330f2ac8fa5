package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Arguments, as `key=value` pairs after the mode. */
final case class Conf(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument: $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  def data: String = apply("data")
  def root: Path = Paths.get(apply("root"))
  def cores: Int = int("cores")
  def seed: Long = long("seed")
  def seconds: Double = apply("seconds").toDouble
  def traced: Boolean = apply("trace") == "1"
}

/** Benchmark harness entry point. Modes:
  *  - `catalog`: closed-loop passes over a fixed list of catalog queries
  *  - `stream`: the STEDI join as a live micro-batch query, open loop
  *  - `ledger`: each listed query once, with jobs and wall time recorded
  * Each mode writes one JSON object to the `out` path. */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.head
    val conf = Conf(args.tail.map { a =>
      val i = a.indexOf('=')
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap)
    // Set-up is sampled `setups` times: the first sample runs from the
    // JVM launch, so it also pays class loading and JIT warm-up; each
    // later one stops the session and builds a fresh one in this JVM.
    var t0 = conf.long("launched_ms")
    var spark: SparkSession = null
    val setupS = (1 to conf.int("setups")).map { _ =>
      if (spark != null) { spark.stop(); t0 = System.currentTimeMillis() }
      spark = session(conf)
      warmUp(spark, conf.data, mode)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val result = try mode match {
      case "catalog" => new Catalog(spark, conf).run()
      case "ledger" => new Catalog(spark, conf).ledger()
      case "stream" => new StediStream(spark, conf).run()
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    } finally spark.stop()
    Files.writeString(Paths.get(conf("out")),
      Json.render(result + ("setup_s" -> setupS)))
  }

  def session(conf: Conf): SparkSession = {
    val root = conf.root
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", root.resolve("checkpoints").toString)
      .getOrCreate()
  }

  /** The same table touches `graft.Bench` makes before timing, so the
    * first timed operation does not absorb session and codegen warm-up. */
  def warmUp(spark: SparkSession, data: String, mode: String): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "stream") {
      Tables.customer(spark, data).count()
      Tables.orders(spark, data).groupBy("o_orderstatus").count().count()
    } else {
      Tables.lineitem(spark, data).groupBy("l_returnflag").count().count()
      Tables.documents(spark, data).count()
      Tables.embeddings(spark, data).count()
    }
  }

  /** Heap in use after a full collection, in MB. Collects twice: the
    * first collection lets Spark's context cleaner drop the broadcast and
    * shuffle state of unreachable plans, the second reclaims it. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Bytes this process has written through system calls (`wchar`). */
  def writtenBytes(): Long =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/self/io"))
      lines.toArray.map(_.toString).find(_.startsWith("wchar:"))
        .map(_.substring(6).trim.toLong).getOrElse(0L)
    } catch { case _: Exception => 0L }
}
