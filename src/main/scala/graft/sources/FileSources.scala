package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch file-format surface for the lake side of the engine. The
  * reference itself reads only Kafka (SURVEY.md §2.2 "Scans"), but a
  * standalone library needs the standard lake formats. The text
  * formats, `csv` and `jsonLines`, take an explicit schema (the
  * reference's own rule — no inference); the self-describing columnar
  * formats, `parquet` and `orc`, take theirs from the file footers.
  */
object FileSources {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV with explicit schema and header; malformed rows go to the
    * PERMISSIVE null-row path, matching the reference's only
    * malformed-input policy (filter nulls downstream). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON-lines with explicit schema (PERMISSIVE, like from_json). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** ORC read — the other columnar lake format; same vectorized
    * reader + predicate pushdown machinery as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Partitioned parquet writer — the layout that makes partition
    * pruning work at scale (predicates on partition columns never
    * touch the data files). */
  def writePartitionedParquet(
      df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }
}
