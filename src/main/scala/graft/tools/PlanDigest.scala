package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-drift artifact: write a NORMALIZED physical-plan digest for
  * the most expensive SparkEntry queries to a committed file
  * (PLAN_DIGEST.md). A diff in that file across rounds makes optimizer
  * / plan-shape regressions reviewable the way CORRECTNESS_r*.json
  * makes semantics reviewable.
  *
  * The digest is the operator-tree section of `explain("formatted")`
  * with run-volatile tokens stripped (expression ids `#123`,
  * `plan_id=` tags), so identical plan shapes digest identically
  * across JVMs and rounds. Iterative operators that eagerly
  * materialize (kmeans-backed queries) legitimately digest as a
  * LogicalRDD scan of their final stage — the drift signal there is
  * the stage count/shape changing, which shows up in the tree too.
  *
  * Regenerate: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *   sbt "runMain graft.tools.PlanDigest"   (writes PLAN_DIGEST.md)
  */
object PlanDigest {

  /** 20 most expensive queries per the round-7 judge bench, plus the
    * reference-contract flagship. */
  val DEFAULT = Seq(
    "graph_triangles", "graph_pagerank", "graph_kcore",
    "graph_label_prop", "graph_link_pred", "graph_hits", "graph_ppr",
    "dedup_semantic",
    "knn_ivf_trained", "knn_pq_trained", "knn_pq_rescore",
    "knn_ivf_persisted", "knn_ivf", "knn_brute", "knn_sq8",
    "dedup_ngram_prefix", "dedup_spans_clean", "dedup_spans",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_chunks",
    "text_bpe_encode", "text_bpe_train_encode", "text_bm25",
    "text_tfidf", "pipeline_pretrain", "ref_join_json",
    "text_dsir_weights", "text_dsir_sample", "knn_hard_negatives",
    "knn_maxsim", "text_decontaminate_spans",
    "dedup_minhash_delta", "dedup_minhash_probe", "knn_eval_binary",
    "dedup_exact_delta", "dedup_exact_probe",
    // the four ANN delta serves: base ∪ committed deltas behind each
    // tier's broadcast-query / never-shuffle-corpus serving plan (the
    // IVF tree additionally shows the per-segment c_id partition
    // pruning of the probed lists)
    "knn_ivf_delta", "knn_sq8_delta", "knn_pq_delta", "knn_binary_delta",
    "dedup_admission_loop", "dedup_semantic_probe",
    // round 13: the persisted IVFADC tier's full maintenance cycle,
    // the 4-store semantic admission fold, and the two lossy-tier
    // evaluations that complete the tier-vs-truth matrix
    "knn_ivfpq_delta", "dedup_admission_semantic",
    "knn_eval_ivfpq", "knn_eval_maxsim", "knn_ivfpq_trained",
    "knn_ivfpq_rescore",
    // round 14: the trained-persisted IVFADC cycle, the compressed
    // semantic probe, the persisted MaxSim tier, the perceptual-hash
    // near-dup, and the recall-cost frontier
    "knn_ivfpq_trained_delta", "dedup_semantic_probe_pq",
    "knn_maxsim_delta", "mm_neardup", "knn_eval_frontier",
    "knn_eval_frontier_rescore", "mm_neardup_delta", "mm_neardup_probe",
    "dedup_simhash_delta",
    // round 15: the skew-capped pair law, the audio signature family
    // through the shared index, and the multimodal admission fold
    "mm_neardup_capped", "mm_audio_neardup", "dedup_admission_multimodal",
    // round 15 (late): filtered ANN (in-scan metadata predicate), MMR
    // diversified re-ranking, and the two time-travel serves
    "knn_filtered", "knn_filtered_ivf", "knn_mmr", "knn_mmr_ivf",
    "knn_ivf_asof", "dedup_simhash_asof", "emb_prune_hard",
    "knn_filtered_frontier", "pipeline_multimodal", "knn_eval_mmr",
    // round 15 (second wave): hop-bounded graph distances, entity
    // resolution (in-table + durable probe), hybrid RRF retrieval,
    // and the index epoch diff
    "graph_bfs", "graph_sssp", "er_candidates", "er_resolve",
    "er_probe", "knn_hybrid_rrf", "dedup_index_diff",
    "knn_eval_hybrid", "er_rollup", "graph_closeness", "graph_clustering", "er_probe_eval",
    // round 16: the capped perceptual decision chains (production
    // form), the scalar-tier byte frontier, multi-field ER scoring,
    // the durable ER admission loop, and the persisted hybrid stack
    "mm_neardup_clusters_capped", "mm_video_clusters_capped",
    "mm_audio_clusters_capped", "knn_eval_frontier_scalar",
    "er_candidates_multi", "er_admission_loop",
    "knn_hybrid_rrf_persisted", "dedup_admission_video",
    "mm_neardup_clusters_durable", "mm_capped_eval",
    // round 16 (late additions, r17 digest coverage): the multi-field
    // resolution chain, the deferred-rescore triage, MMR over the
    // fused hybrid shortlist, and the persisted-hybrid eval
    "er_resolve_multi", "er_probe_rescored", "knn_mmr_hybrid",
    "knn_eval_hybrid_persisted",
    // round 17: the online capped perceptual clustering replay and
    // the production-blocked multi-field scorer
    "mm_clusters_capped_incremental", "er_candidates_multi_fine",
    "er_probe_multi", "mm_capped_eval_video", "mm_capped_eval_audio")

  def normalize(s: String): String =
    s.replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("cached rdd \\d+", "cached rdd _")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "PLAN_DIGEST.md")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else DEFAULT
    val sb = new StringBuilder
    sb.append("# PLAN_DIGEST — normalized physical-plan trees\n\n")
    sb.append("Generated by `graft.tools.PlanDigest` (sf-independent shapes,\n")
    sb.append("expression/plan ids normalized). Diff this file across rounds to\n")
    sb.append("review optimizer/plan-shape drift; regenerate with\n")
    sb.append("`sbt \"runMain graft.tools.PlanDigest\"`.\n")
    names.foreach { n =>
      val tree =
        try {
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // keep only the operator tree (everything before the first
          // blank line separating it from the per-node detail section)
          formatted.linesIterator
            .dropWhile(l => l.startsWith("==") || l.isEmpty)
            .takeWhile(_.nonEmpty)
            .map(normalize)
            .mkString("\n")
        } catch { case e: Throwable => s"ERROR: $e" }
      sb.append(s"\n## $n\n\n```\n$tree\n```\n")
    }
    // Eagerly-materializing operators (iterative trainers, graph
    // rounds) digest above as their final-stage LogicalRDD — the
    // localCheckpoint hides the interesting plan. Digest their
    // factored-out PURE builders on tiny synthetic inputs instead
    // (plan SHAPE is data-independent; discipline is pinned in
    // PlanShapeSpec, this file makes drift diffable).
    import spark.implicits._
    def digestOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .linesIterator
        .dropWhile(l => l.startsWith("==") || l.isEmpty)
        .takeWhile(_.nonEmpty)
        .map(normalize)
        .mkString("\n")
    val adj = Seq((1L, Seq(2L, 3L)), (2L, Seq(3L, 4L))).toDF("src", "nbrs")
      .localCheckpoint(true)
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").localCheckpoint(true)
    val nodeInfo = Seq((1L, 1L), (2L, 1L), (3L, 0L)).toDF("node_id", "outdeg")
      .localCheckpoint(true)
    // pageRank: the rank walk with every node a source
    val allSrc = nodeInfo
      .withColumn("is_src", org.apache.spark.sql.functions.lit(1L))
      .localCheckpoint(true)
    val pr = allSrc.withColumn("pr",
      org.apache.spark.sql.functions.col("is_src") *
        org.apache.spark.sql.functions.lit(1000000000000L))
    val assigned = Seq((0L, 1L, Seq(1.0f, 0.0f))).toDF("c_id", "vec_id", "embedding")
      .localCheckpoint(true)
    val cents = Seq((0L, Seq(1.0f, 0.0f))).toDF("c_id", "c_vec").localCheckpoint(true)
    val qs = Seq((1L, Seq(0.0f, 1.0f))).toDF("query_id", "q").localCheckpoint(true)
    val pprState = nodeInfo
      .withColumn("is_src", org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.col("node_id") === 1L, 1L)
        .otherwise(0L))
      .localCheckpoint(true)
    val ppr = pprState.withColumn("pr",
      org.apache.spark.sql.functions.col("is_src") *
        org.apache.spark.sql.functions.lit(1000000000000L))
    val lbl = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node_id", "community")
      .localCheckpoint(true)
    val hitsState = Seq((1L, 1000000000000L, 1000000000000L))
      .toDF("node_id", "hub", "auth").localCheckpoint(true)
    val packedAdj = Seq((1L, Seq(2L * (1L << 20) + 1L)),
      (2L, Seq(1L * (1L << 20) + 1L))).toDF("node", "packed")
      .localCheckpoint(true)
    val symEdges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
      .localCheckpoint(true)
    val builders = Seq(
      "builder: Graph.trianglePlan (closure join + intersect)" ->
        (() => graft.operators.Graph.trianglePlan(adj)),
      "builder: Graph.pprRound, every node a source (one pageRank iteration)" ->
        (() => graft.operators.Graph.pprRound(e, allSrc, pr, broadcastState = false)),
      "builder: Graph.pprRound (source-restricted teleport iteration)" ->
        (() => graft.operators.Graph.pprRound(e, pprState, ppr, broadcastState = false)),
      "builder: Graph.kCoreRound (one peel round)" ->
        (() => graft.operators.Graph.kCoreRound(symEdges, 2)),
      "builder: Graph.labelPropRound (one vote round)" ->
        (() => graft.operators.Graph.labelPropRound(e, lbl, broadcastState = false)),
      "builder: Graph.ssspRound (frontier relax + min fold + outer merge)" ->
        (() => graft.operators.Graph.ssspRound(
          Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
            .repartition(org.apache.spark.sql.functions.col("src"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          Seq((1L, 0L, true)).toDF("node_id", "dist", "improved")
            .localCheckpoint(true))),
      "builder: Graph.hitsRawAuth + hitsMaxNorm (one half-step)" ->
        (() => graft.operators.Graph.hitsMaxNorm(
          graft.operators.Graph.hitsRawAuth(e, hitsState, broadcastState = false),
          "ra", "auth")),
      // the broadcast regime of each round (Graph.broadcastStateRows):
      // same builders, state joins broadcast over the regime-keyed cache
      "builder: Graph.pprRound, every node a source, broadcast regime" ->
        (() => graft.operators.Graph.pprRound(e, allSrc, pr, broadcastState = true)),
      "builder: Graph.pprRound, broadcast regime" ->
        (() => graft.operators.Graph.pprRound(e, pprState, ppr, broadcastState = true)),
      "builder: Graph.labelPropRound, broadcast regime" ->
        (() => graft.operators.Graph.labelPropRound(e, lbl, broadcastState = true)),
      "builder: Graph.hitsRawAuth + hitsMaxNormBc, broadcast regime (authority half-step)" ->
        (() => graft.operators.Graph.hitsMaxNormBc(
          graft.operators.Graph.hitsRawAuth(e, hitsState, broadcastState = true),
          "ra", "auth")),
      "builder: Graph.hitsRawHub + hitsMaxNormBc, broadcast regime (hub half-step)" ->
        (() => graft.operators.Graph.hitsMaxNormBc(
          graft.operators.Graph.hitsRawHub(e, hitsState, broadcastState = true),
          "rh", "hub")),
      "builder: Graph.kCoreRoundBc (broadcast peel round)" ->
        (() => graft.operators.Graph.kCoreRoundBc(symEdges, 2)),
      "builder: Graph.linkPredScorePlan (edge stream + intersect + in-row reduce)" ->
        (() => graft.operators.Graph.linkPredScorePlan(packedAdj)),
      "builder: Similarity.ivfServe (probe + rank)" ->
        (() => graft.operators.Similarity.ivfServe(assigned, cents, qs, 2, 1)),
      "builder: StreamingOps.triangleDeltaPlan (fused 1/2/3-new delta counts)" ->
        (() => graft.streaming.StreamingOps.triangleDeltaPlan(
          e.select(org.apache.spark.sql.functions.col("src").as("a"),
            org.apache.spark.sql.functions.col("dst").as("b")),
          adj.select(org.apache.spark.sql.functions.col("src").as("node"),
            org.apache.spark.sql.functions.col("nbrs")),
          adj.select(org.apache.spark.sql.functions.col("src").as("c"),
            org.apache.spark.sql.functions.col("nbrs").as("dn"))
            .localCheckpoint(true))),
      "builder: StreamingOps.ccRemapPlan (broadcast remap — label state never shuffles)" ->
        (() => graft.streaming.StreamingOps.ccRemapPlan(
          Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node_id", "cluster_id")
            .localCheckpoint(true),
          Seq((3L, 1L)).toDF("old_label", "new_label").localCheckpoint(true),
          Seq((1L, 3L, 1L, 3L)).toDF("a", "b", "ca", "cb")
            .localCheckpoint(true))),
      "builder: Dsir.statsFoldPlan (nBuckets-row element-wise count fold)" ->
        (() => graft.operators.Dsir.statsFoldPlan(
          Seq((0L, 1L, 1L), (1L, 2L, 0L)).toDF("bucket", "rc", "tc")
            .localCheckpoint(true),
          Seq((0L, 1L, 1L)).toDF("bucket", "drc", "dtc")
            .localCheckpoint(true)))) ++ {
      // the probe plans materialize eagerly at the operator surface
      // (their query sections digest as the result scan), so the
      // index-pruning trees — the broadcast LEFT SEMI joins that make
      // a probe o(index) — are published from the pure plan builders
      // over a tiny on-disk index
      val mhDocs = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ff"))
        .toDF("doc_id", "text")
      val mhPath = graft.operators.Storage.tempIndexDir("graft_digest_mh")
      graft.operators.MinHashIndex.write(mhDocs, mhPath)
      val mhFp = graft.operators.MinHashIndex.fingerprints(
        Seq((10L, "aa bb cc dd ee gg")).toDF("doc_id", "text"), 3, 16, 8)
        .localCheckpoint(true)
      val chPath = graft.operators.Storage.tempIndexDir("graft_digest_ch")
      graft.operators.ContentHashIndex.write(mhDocs, chPath)
      val chFp = graft.operators.ContentHashIndex.fingerprints(
        Seq((10L, "aa bb cc dd ee")).toDF("doc_id", "text"))
        .localCheckpoint(true)
      val ivfPath = graft.operators.Storage.tempIndexDir("graft_digest_ivf")
      val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
        .toDF("vec_id", "embedding")
      val ivfCents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
        .toDF("c_id", "c_vec")
      graft.operators.IvfIndex.write(vecs, ivfCents, ivfPath)
      val semShard = graft.operators.Similarity.ivfAssign(
          Seq((10L, Seq(1.0f, 0.1f))).toDF("vec_id", "embedding"),
          graft.operators.IvfIndex.centroids(spark, ivfPath))
        .localCheckpoint(true)
      Seq(
        "builder: MinHashIndex.probePairsPlan (broadcast-semi-join index pruning)" ->
          (() => graft.operators.MinHashIndex.probePairsPlan(
            spark, mhPath, mhFp, 0.5)),
        "builder: ContentHashIndex.probeNewPlan (hash-column semi-join)" ->
          (() => graft.operators.ContentHashIndex.probeNewPlan(
            spark, chPath, chFp)),
        "builder: IvfIndex.probeSemanticPlan (c_id-partition-pruned cluster blocking)" ->
          (() => graft.operators.IvfIndex.probeSemanticPlan(
            spark, ivfPath, semShard, 0.9)))
    }
    builders.foreach { case (n, f) =>
      val tree = try digestOf(f()) catch { case ex: Throwable => s"ERROR: $ex" }
      sb.append(s"\n## $n\n\n```\n$tree\n```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandigest] wrote $out (${names.size} queries)")
    spark.stop()
  }
}
