package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job-count tripwire: the Spark jobs each of the benchmark's catalog
  * queries launches at sf0.001, call plus noop write, as the benchmark
  * runs it. Job counts are deterministic where wall times are not, so a
  * change that adds a driver round trip (an eager probe, an extra
  * materialization, a loader that infers its schema on every read)
  * fails here even when it is too small to see in the timings. A change
  * that removes jobs on purpose updates the pinned count.
  */
class CatalogJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** perfbench/workloads.json `catalog`: light then heavy. */
  private val pinned = Seq(
    "dedup_chunks" -> 4,
    "er_candidates_multi_fine" -> 3,
    "mm_frames" -> 3,
    "q_asof_join_native" -> 4,
    "q_geomean" -> 2,
    "q_outer_join" -> 3,
    "q_sort_limit" -> 1,
    "q_window_range_frame" -> 2,
    "sketch_quantiles" -> 2,
    "text_stats" -> 2,
    "graph_pagerank" -> 19,
    "knn_sq8_compact" -> 16)

  test("the benchmark's catalog queries launch their pinned job counts") {
    // counted from the same state whatever suites ran before: no cached
    // relations (a suite that leaves a loader's relation cached, as
    // DsirSpec does with documents, serves its exchange from memory and
    // saves a job) and one warm read of every table, so a table's
    // one-off schema inference lands here
    spark.catalog.clearCache()
    TestSpark.tableNames.foreach(Tables.table(spark, TestSpark.sfDir, _))
    val counted = pinned.map { case (name, _) =>
      name -> JobCount(spark) {
        SparkEntry.queries(name)(spark, TestSpark.sfDir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val moved = pinned.zip(counted).collect {
      case ((n, want), (_, got)) if want != got => s"$n: pinned $want, got $got"
    }
    assert(moved.isEmpty, moved.mkString("job counts moved: ", "; ", ""))
  }
}
