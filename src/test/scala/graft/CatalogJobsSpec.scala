package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Job-count tripwire: the Spark jobs each of the benchmark's catalog
  * queries, and each query backed by a durable index tier, launches at
  * sf0.001, call plus noop write, as the benchmark runs it. Job counts
  * are deterministic where wall times are not, so a change that adds a
  * driver round trip (an eager probe, an extra
  * materialization, a loader that infers its schema on every read)
  * fails here even when it is too small to see in the timings. A change
  * that removes jobs on purpose updates the pinned count. The same run
  * sweeps for leaks: a query may leave behind only the checkpoints its
  * result reads.
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
    "graph_pagerank" -> 15,
    "knn_sq8_compact" -> 12)

  /** The queries that write, append to, compact or probe a durable
    * index tier, the admission loops included, so a change to the
    * shared segment code or to the queries' index lifecycle that adds
    * a schema read or a segment write shows up here. */
  private val indexPinned = Seq(
    "knn_ivf_persisted" -> 13,
    "knn_ivf_delta" -> 21,
    "knn_ivf_asof" -> 22,
    "knn_sq8_delta" -> 11,
    "knn_pq_delta" -> 24,
    "knn_ivfpq_delta" -> 40,
    "knn_binary_delta" -> 11,
    "knn_maxsim_delta" -> 16,
    "dedup_exact_delta" -> 8,
    "dedup_exact_probe" -> 9,
    "dedup_index_diff" -> 13,
    "dedup_minhash_delta" -> 10,
    "dedup_minhash_probe" -> 13,
    "dedup_simhash_delta" -> 8,
    "dedup_simhash_asof" -> 10,
    "er_probe" -> 11,
    "mm_neardup_delta" -> 8,
    "er_probe_rescored" -> 14,
    "er_probe_multi" -> 11,
    "er_probe_eval" -> 15,
    "er_admission_loop" -> 57,
    "dedup_admission_loop" -> 83,
    "dedup_admission_semantic" -> 164,
    "dedup_admission_multimodal" -> 129,
    "dedup_admission_video" -> 129,
    "dedup_index_stats" -> 9,
    "knn_hybrid_rrf_persisted" -> 29,
    "knn_eval_hybrid_persisted" -> 36,
    "knn_ivfpq_trained_delta" -> 64,
    "dedup_semantic_probe" -> 23,
    "dedup_semantic_probe_pq" -> 52,
    "mm_neardup_probe" -> 11,
    "mm_audio_neardup" -> 12,
    "mm_video_neardup" -> 12,
    "mm_hot_buckets" -> 4,
    "mm_neardup_clusters_durable" -> 41)

  /** The graph and clustering queries: each graph iterative (and the
    * connected components behind the two clustering queries) measures
    * its state, lays out its edge cache and runs its rounds, so a
    * change to that prelude or to a round's materialization shows up
    * here. `graph_pagerank` is pinned above. */
  private val graphPinned = Seq(
    "graph_ppr" -> 15,
    "graph_hits" -> 27,
    "graph_label_prop" -> 19,
    "graph_kcore" -> 13,
    "graph_bfs" -> 21,
    "graph_sssp" -> 18,
    "graph_closeness" -> 23,
    "dedup_clusters" -> 17,
    "mm_neardup_clusters" -> 37,
    "graph_triangles" -> 10,
    "graph_link_pred" -> 8,
    "graph_clustering" -> 14,
    "dedup_keep_best" -> 20,
    "er_resolve" -> 25,
    "er_resolve_multi" -> 29,
    "er_rollup" -> 31,
    "mm_video_clusters" -> 37,
    "mm_audio_clusters" -> 33,
    "mm_neardup_clusters_capped" -> 37,
    "mm_video_clusters_capped" -> 33,
    "mm_audio_clusters_capped" -> 33,
    "mm_clusters_capped_incremental" -> 108)

  /** The pin of a query whose job count is not checked. */
  private val Unpinned = -1

  /** The queries behind the other round loops and checkpoint pins:
    * BPE's vocab rounds, the k-means and PQ Lloyd trainers, the
    * frontier sweeps' shared truth pins, MMR's greedy rounds and the
    * capped-eval signature pins. text_bpe_encode is only swept for
    * leaks: it learns its merge table only on a session's first call
    * (36 jobs, then 4), so its count depends on which suites ran
    * before. */
  private val trainerPinned = Seq(
    "mm_capped_eval" -> 13,
    "mm_capped_eval_video" -> 13,
    "mm_capped_eval_audio" -> 13,
    "text_bpe_vocab" -> 33,
    "text_bpe_encode" -> Unpinned,
    "text_bpe_train_encode" -> 36,
    "knn_ivf_trained" -> 25,
    "knn_pq_trained" -> 25,
    "knn_ivfpq_trained" -> 44,
    "dedup_semantic" -> 22,
    "emb_prune_hard" -> 22,
    "knn_eval_frontier" -> 31,
    "knn_eval_frontier_rescore" -> 33,
    "knn_eval_frontier_scalar" -> 32,
    "knn_filtered_frontier" -> 31,
    "knn_mmr" -> 30,
    "knn_mmr_hybrid" -> 42,
    "knn_mmr_ivf" -> 33,
    "knn_eval_mmr" -> 39)

  /** Queries whose count varies by one between runs of the same code:
    * dedup_admission_semantic ran 164 or 165 jobs in repeated runs
    * within one JVM (the moving job is an AQE query-stage job that some
    * runs launch and others do not), er_rollup 31 or 32. Their pin is
    * the lower count, and one more also passes. */
  private val racy = Set("dedup_admission_semantic", "er_rollup")

  /** The ids of the persistent RDDs in the session. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** "name: pinned n, got m" for every query whose count moved, and
    * "name: left k ..." for every query that left a persistent RDD
    * behind beyond the checkpoints its result reads (the query's own
    * result pin). The sweep reads the RDD registry around the same
    * run, so it costs no job. */
  private def moved(pins: Seq[(String, Int)]): Seq[String] = {
    // counted from the same state whatever suites ran before: no cached
    // relations (a suite that leaves a loader's relation cached, as
    // DsirSpec does with documents, serves its exchange from memory and
    // saves a job) and one warm read of every table, so a table's
    // one-off schema inference lands here
    spark.catalog.clearCache()
    TestSpark.tableNames.foreach(Tables.table(spark, TestSpark.sfDir, _))
    pins.flatMap { case (name, want) =>
      val before = persisted
      var result: DataFrame = null
      val got = JobCount(spark) {
        result = SparkEntry.queries(name)(spark, TestSpark.sfDir)
        result.write.format("noop").mode("overwrite").save()
      }
      val resultPins = result.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.id
      }.toSet
      val left = persisted -- before -- resultPins
      val jobs =
        if (want == Unpinned || got == want || (racy(name) && got == want + 1)) None
        else Some(s"$name: pinned $want, got $got")
      val leaked =
        if (left.isEmpty) None
        else Some(s"$name: left ${left.size} persistent RDDs beyond its result")
      jobs ++ leaked
    }
  }

  test("the benchmark's catalog queries launch their pinned job counts") {
    val m = moved(pinned)
    assert(m.isEmpty, m.mkString("job counts moved or leaks: ", "; ", ""))
  }

  test("the index-backed queries launch their pinned job counts") {
    val m = moved(indexPinned)
    assert(m.isEmpty, m.mkString("job counts moved or leaks: ", "; ", ""))
  }

  test("the graph and clustering queries launch their pinned job counts") {
    val m = moved(graphPinned)
    assert(m.isEmpty, m.mkString("job counts moved or leaks: ", "; ", ""))
  }

  test("the trainer, frontier and capped-eval queries launch their pinned job counts") {
    val m = moved(trainerPinned)
    assert(m.isEmpty, m.mkString("job counts moved or leaks: ", "; ", ""))
  }
}
