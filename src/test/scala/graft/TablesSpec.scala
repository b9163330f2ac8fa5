package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The loaders' schema cache: a table file's schema is inferred once
  * (one Spark job) and reused until the file or the session's parquet
  * reader confs change. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Writes `df` as the single parquet file `target`, replacing it. */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("graft_tables_out")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("d").toString)
    val part = Files.list(out.resolve("d")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("cached schemas equal a fresh inference for every table") {
    TestSpark.tableNames.foreach { n =>
      Tables.table(spark, TestSpark.sfDir, n)
      val cached = Tables.table(spark, TestSpark.sfDir, n).schema
      val fresh = spark.read.parquet(s"${TestSpark.sfDir}/$n.parquet").schema
      // StructType equality covers names, types, nullability and metadata
      assert(cached == fresh, s"$n: cached $cached, inferred $fresh")
    }
  }

  test("a table file's schema costs one job on first read and none after") {
    Tables.lineitem(spark, TestSpark.sfDir)
    assert(JobCount(spark)(Tables.lineitem(spark, TestSpark.sfDir).schema) == 0)
    val dir = Files.createTempDirectory("graft_tables_copy")
    Files.copy(java.nio.file.Paths.get(s"${TestSpark.sfDir}/lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    assert(JobCount(spark)(Tables.lineitem(spark, dir.toString).schema) == 1)
    assert(JobCount(spark)(Tables.lineitem(spark, dir.toString).schema) == 0)
    // a directory's status does not follow its files: never cached
    Tables.lineitem(spark, dir.toString).write.parquet(dir.resolve("dataset.parquet").toString)
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "dataset").schema) == 1)
    assert(JobCount(spark)(Tables.table(spark, dir.toString, "dataset").schema) == 1)
  }

  test("a file rewritten with another ts encoding is inferred again") {
    val dir = Files.createTempDirectory("graft_tables_events")
    val file = dir.resolve("events.parquet")
    val base = Tables.events(spark, TestSpark.sfDir)
    val want = base.select("ts").orderBy("ts").collect().toSeq
    // INT96, then INT64 TIMESTAMP(MICROS) without UTC adjustment, then
    // plain INT64 nanoseconds (the output type does not apply to a long):
    // the three encodings the loader accepts
    val encodings: Seq[(String, Column, DataType)] = Seq(
      ("INT96", col("ts"), TimestampType),
      ("TIMESTAMP_MICROS", col("ts").cast(TimestampNTZType), TimestampNTZType),
      ("TIMESTAMP_MICROS", unix_micros(col("ts")) * 1000L, LongType))
    var lastLength = -1L
    encodings.foreach { case (outputType, ts, rawType) =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", outputType)
      try writeFile(base.withColumn("ts", ts), file)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      // a different length alone changes the key, whatever the mtime granularity
      assert(Files.size(file) != lastLength)
      lastLength = Files.size(file)
      assert(Tables.table(spark, dir.toString, "events").schema("ts").dataType == rawType)
      val events = Tables.events(spark, dir.toString)
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.select("ts").orderBy("ts").collect().toSeq == want, rawType)
    }
  }

  test("a session whose reader confs change the inferred type gets its own schema") {
    // a plain BINARY column written without Spark's schema metadata, which
    // would otherwise decide the type: binaryAsString then makes it a string
    val dir = Files.createTempDirectory("graft_tables_binary")
    val schema = MessageTypeParser.parseMessageType(
      "message blobs { required int64 id; required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new HPath(dir.resolve("blobs.parquet").toUri))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try (0 until 3).foreach(i => writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", i.toLong).append("b", Binary.fromString(i.toString))))
    finally writer.close()
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.table(spark, dir.toString, "blobs").schema("b").dataType == BinaryType)
    assert(Tables.table(asString, dir.toString, "blobs").schema("b").dataType == StringType)
    assert(Tables.table(spark, dir.toString, "blobs").schema("b").dataType == BinaryType)
    assert(Tables.table(asString, dir.toString, "blobs").collect().map(_.getString(1)).sorted
      .sameElements(Seq("0", "1", "2")))
  }
}
