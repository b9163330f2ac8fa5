package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's deterministic Parquet testdata
  * (see /root/repo/TESTDATA.md). One method per table; every
  * `SparkEntry.queries` entry goes through these so that scan-level
  * concerns (vectorized parquet reader, column pruning, filter
  * pushdown) are uniform across the engine.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader indirection is the single seam where that swap happens.
  *
  * Schemas are inferred once per table file, not once per read. A
  * plain `spark.read.parquet(path)` launches a one-task job that reads
  * the footer: in the benchmark's traced catalog pass (12 queries, 14
  * table reads, sf0.01, local[4] on a 4-core host) those 14 jobs took
  * 0.36–0.39 s, and dropping them cut the pass's query build time from
  * 3.1–3.4 s to 2.6–2.9 s. `table` keeps each inferred schema in a
  * process-wide map and reads through `spark.read.schema(schema)`. The
  * key is the file's qualified path, length and modification time (one
  * driver-side `getFileStatus`, no job) plus every session SQL conf
  * whose key contains `parquet`, since reader confs such as
  * `spark.sql.legacy.parquet.nanosAsLong` or
  * `spark.sql.parquet.binaryAsString` change the inferred types. A
  * rewrite of the file, or a session with other reader confs, so misses
  * and infers again. A directory's length and modification time do not
  * follow an in-place rewrite of a file inside it, so directories are
  * inferred on every read.
  *
  * The schemas are cached rather than declared because the data drops
  * change physical types between regenerations (events.ts has shipped
  * as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS) without UTC
  * adjustment); a declared list would have to track every such change.
  */
object Tables {
  private final case class SchemaKey(path: String, length: Long, modified: Long,
      readerConfs: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    def infer(): StructType = spark.read.parquet(path).schema
    if (!st.isFile) infer()
    else {
      val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime,
        spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted)
      Option(schemas.get(key)).getOrElse {
        // not computeIfAbsent: that would hold a map lock while the
        // inference job runs, and concurrent appends read tables from
        // several threads; two racing misses both infer, the first wins
        val inferred = infer()
        Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
      }
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
    * drops (Spark's reader rejects it; sessions set
    * spark.sql.legacy.parquet.nanosAsLong=true and this loader
    * truncates nanos → microseconds) and as TIMESTAMP(MICROS) without
    * UTC adjustment (read as TIMESTAMP_NTZ) in others. Normalize both
    * to a session-zone TIMESTAMP — sessions run UTC, so the NTZ cast
    * re-labels the identical wall-clock instant. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  /** documents/embeddings ship as one small parquet (often a single
    * row group → a single input split), while their per-row work
    * (shingling, hashing, vector math) is the heaviest in the engine.
    * Spread them across the session's parallelism up front — one
    * trivial shuffle; at production scale the scan itself would
    * provide the splits and this becomes a no-op-sized adjustment. */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    // conditional on the FILE count (cheap driver-side metadata — no
    // plan-to-RDD conversion like df.rdd.getNumPartitions would
    // force): only widen genuinely under-split inputs; a table that
    // already has enough splits is never shuffled, and never
    // down-partitioned
    val target = s.sparkContext.defaultParallelism
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "embeddings"))
}
