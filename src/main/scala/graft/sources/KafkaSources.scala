package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** The reference's source/sink surface (SURVEY.md §2.1 O1, O14, O15)
  * as thin builders around Structured Streaming.
  *
  * The Kafka connector (spark-sql-kafka-0-10) is an external package —
  * the reference pulls it with `--packages` at spark-submit time
  * (/root/reference/project/starter/submit-event-kafkajoin.sh:2) and
  * so do we; these builders compile against stock Spark and fail fast
  * at runtime if the connector jar is absent. All graft pipelines are
  * source-agnostic (they take the Kafka-shaped DataFrame), so tests
  * drive them through MemoryStream and batch frames — and
  * KafkaRoundTripSpec additionally executes `toTopic`/`topicBatch`
  * themselves end-to-end against a test-classpath fake that implements
  * the connector's column/option contract (graft.fakekafka).
  */
object KafkaSources {

  /** O1 — subscribe from the earliest offset, exactly as all three
    * reference scripts do (sparkpyrediskafkastreamtoconsole.py:33). */
  def topicStream(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Batch analogue of O1 (bounded read of a topic). */
  def topicBatch(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .load()

  /** O14 — console sink, append mode
    * (sparkpyrediskafkastreamtoconsole.py:102). */
  def toConsole(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.outputMode("append").format("console")

  /** O15 — Kafka sink with checkpoint (sparkpykafkajoin.py:145-152).
    * Expects a `value` column (see RefOps.toJsonValue). */
  def toTopic(
      df: DataFrame,
      bootstrapServers: String,
      topic: String,
      checkpointLocation: String): DataStreamWriter[Row] =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)

  /** foreachBatch sink: the operational idiom for multi-sink or upsert
    * writes — each micro-batch arrives as a reusable batch DataFrame
    * plus its epoch id, under the same checkpointed at-least-once
    * batch-replay contract as any sink. At scale this is how the
    * reference's single-topic sink generalizes (land parquet AND
    * update a serving index from one stream, dedup on epoch id). */
  def toForeachBatch(df: DataFrame, checkpointLocation: String)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch(f)

  /** File-lake sink: partitioned parquet with checkpointed exactly-once
    * semantics — what a 100 TB ingest actually lands on. */
  def toParquet(
      df: DataFrame,
      path: String,
      checkpointLocation: String,
      partitionCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    val w = df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }
}
