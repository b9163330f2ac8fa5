package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-critical plan-shape assertions: these lock in the physical
  * properties that make the engine viable at 100 TB — filter/column
  * pushdown into the parquet scan, broadcast of dimension tables,
  * map-side partial aggregation, whole-stage codegen coverage, and
  * sort-based top-k. If a refactor silently regresses one of these,
  * correctness tests stay green but the 1000-executor plan rots —
  * this suite is the tripwire.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  /** Full (untruncated) pushed-filter and read-schema strings from the
    * parquet scan nodes — plan toString truncates long filter lists. */
  private def scanMeta(name: String, key: String): Seq[String] =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse(key, "")
      }

  // AQE finalizes stages lazily; run the plan, then count the "*(n)"
  // whole-stage-codegen markers in the final adaptive plan
  private def finalPlan(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, TestSpark.sfDir).queryExecution
    qe.toRdd.count() // forces AQE to materialize the final plan
    qe.executedPlan.toString
  }
  private def codegenSpans(p: String): Int =
    "\\*\\(\\d+\\)".r.findAllIn(p).size

  /** Executed-plan tree walk that descends through AQE wrappers —
    * toString-based checks both embed cache-BUILD exchanges (false
    * positives) and truncate nested sections (false coverage). */
  private def walkPlan(pl: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = pl match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      pl +: walkPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      pl +: walkPlan(q.plan)
    case _ => pl +: pl.children.flatMap(walkPlan)
  }

  test("q_filter_project pushes filters and prunes columns at the scan") {
    val pushed = scanMeta("q_filter_project", "PushedFilters").mkString
    assert(pushed.contains("GreaterThan(l_quantity,45.0)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    val schema = scanMeta("q_filter_project", "ReadSchema").mkString
    assert(!schema.contains("l_returnflag") && !schema.contains("l_tax"),
      s"scan reads unneeded columns: $schema")
  }

  test("q1_agg uses two-phase hash aggregation (map-side partial)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), "no partial aggregation before the exchange")
    assert(codegenSpans(finalPlan("q1_agg")) >= 1, "no whole-stage codegen span")
  }

  test("q3_topk_join broadcasts the filtered dimension side") {
    val p = plan("q3_topk_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "customer dim not broadcast:\n" + p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "top-k not pushed into sort")
  }

  test("q_join_multiway broadcasts both dims (no shuffle join for stars)") {
    val p = plan("q_join_multiway")
    assert(p.split("BroadcastHashJoin").length >= 3, "expected 2 broadcast joins")
  }

  test("q5 six-table join broadcasts all three dimension tables") {
    val p = plan("q5_local_supplier")
    assert(p.split("BroadcastHashJoin").length >= 4,
      "expected >=3 broadcast joins (region, nation, supplier):\n" + p.take(1000))
  }

  test("grouping-set queries Expand the pre-aggregate, not the input") {
    // two-phase cube/rollup: Expand must sit ABOVE a base aggregation
    // (plan prints top-down, so a HashAggregate appears after Expand);
    // a single-phase plan Expands the raw scan 2^k-fold before the
    // first partial agg — the 100 TB shuffle-volume hazard
    for (q <- Seq("q_cube", "q_rollup", "q_grouping_sets")) {
      val p = plan(q)
      val i = p.indexOf("Expand")
      assert(i >= 0, s"$q: no Expand node:\n" + p.take(800))
      assert(p.indexOf("HashAggregate", i) >= 0,
        s"$q: Expand feeds off the raw scan (single-phase grouping sets):\n" +
          p.take(1200))
    }
  }

  test("q_sort_limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("GlobalSort"))
  }

  test("q_semi_join and q_anti_join plan as semi/anti hash joins") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("knn_brute broadcasts the query vectors (scan-side scoring)") {
    val p = plan("knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("knn_brute top-k is two-phase salted (no single-task per-query sort)") {
    val p = plan("knn_brute")
    assert(p.split("Window").length >= 3,
      "expected a salted partial window before the per-query merge window:\n" + p.take(1200))
    assert(p.contains("pmod") && p.contains("xxhash64"),
      "partial window is not salted:\n" + p.take(1200))
  }

  test("knn_hard_negatives broadcasts the query batch (non-equi label join, no shuffle)") {
    val p = plan("knn_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query batch not broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus side shuffle-joined:\n" + p.take(1200))
  }

  test("text_dsir_weights scoring pass scans the corpus once; model rides broadcast") {
    // the fit's scans run inside the eager 256-row checkpoint — the
    // SCORING plan must contain exactly one parquet scan (the corpus)
    // joined to the model via broadcast; a second scan means a plan
    // branch re-derived the model from raw data (the pre-refactor
    // five-pass shape)
    val qe = SparkEntry.queries("text_dsir_weights")(spark, TestSpark.sfDir)
      .queryExecution
    qe.toRdd.count()
    val nodes = walkPlan(qe.executedPlan)
    // the corpus leaf is a parquet scan — or an InMemoryTableScan when
    // an earlier suite in the shared session cached `documents` and
    // Spark substituted the cache; either way there must be exactly
    // one (the model side is only ever the checkpointed ExistingRDD)
    val scans = nodes.filter {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      case _ => false
    }
    assert(scans.size == 1,
      s"expected 1 corpus scan in the scoring plan, got ${scans.size}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "model join is not broadcast")
    assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
      "model joined by shuffle")
  }

  test("knn_ivf broadcasts centroids and probes (no shuffle join on the corpus)") {
    val p = plan("knn_ivf")
    assert(p.split("BroadcastHashJoin|BroadcastNestedLoopJoin").length >= 3,
      "expected centroid + probe broadcasts:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join:\n" + p.take(1200))
  }

  test("knn_lsh_mp computes signatures once (probe branch reuses the bucket exchange)") {
    val p = finalPlan("knn_lsh_mp")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"),
      "probe side rebuilds the signature relation instead of reusing it:\n" + p.take(1500))
  }

  test("neardup_cosine has no per-label all-pairs join") {
    val p = plan("neardup_cosine")
    assert(!p.contains("Join [label") && !p.contains("Join label"),
      "candidate generation joins on label (quadratic per block):\n" + p.take(1200))
    // candidates come from the banded bucket aggregation instead
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("native cosine expression participates in whole-stage codegen") {
    // knn_brute's scoring projection contains the CosineSimilarity
    // expression; assert its stages produce codegen spans
    assert(codegenSpans(finalPlan("knn_brute")) >= 1, "no whole-stage codegen span")
  }

  /** Count JsonToStructs nodes in the optimized plan whose parse schema
    * mentions `field` — nested occurrences included, so a pushdown-
    * duplicated decode chain shows up as >1 even when plan toString
    * truncates the expression text. */
  private def jsonParseCount(name: String, field: String): Int = {
    val plan = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.optimizedPlan
    plan.map { n =>
      n.expressions.map(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs
            if j.schema.catalogString.contains(field) => j
      }.size).sum
    }.sum
  }

  test("knn_pq broadcasts the codebook and LUTs — no shuffle join on the corpus") {
    val p = plan("knn_pq")
    assert(p.split("BroadcastExchange|BroadcastNestedLoopJoin").length >= 3,
      "codebook/LUT side not broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join:\n" + p.take(1200))
  }

  test("text_decontaminate broadcasts the benchmark gram set") {
    // the benchmark is small by nature; corpus grams must never
    // shuffle on the gram key
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"),
      "corpus grams shuffled on gram:\n" + p.take(1200))
  }

  test("dedup_minhash_probe prunes to colliding buckets via broadcast semi-joins") {
    // the probe's o(index) claim: the index's banding rows are
    // semi-joined against the shard's broadcast bucket keys BEFORE
    // any shuffle, and the stored sets are pruned to candidate ids
    // the same way — two broadcast LEFT SEMI joins must survive in
    // the final adaptive plan (a shuffle-side semi would scan-and-
    // exchange the whole index per probe). Pinned on the factored
    // plan builder: probePairs itself returns an eagerly
    // localCheckpointed (output-sized) result, which hides the join
    // structure behind a LogicalRDD scan.
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_planshape_")
    val path = dir.toAbsolutePath.toString
    graft.operators.MinHashIndex.write(
      docs.where(col("doc_id") % 3 =!= 2), path)
    val newFp = graft.operators.MinHashIndex.fingerprints(
        docs.where(col("doc_id") % 3 === 2), 3, 16, 8)
      .localCheckpoint(true)
    try {
      val qe = graft.operators.MinHashIndex
        .probePairsPlan(spark, path, newFp, 0.5).queryExecution
      qe.toRdd.count()
      val semis = walkPlan(qe.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType.sql == "LEFT SEMI" => j
      }
      assert(semis.size >= 2,
        s"expected >=2 broadcast semi-joins, got ${semis.size}:\n" +
          qe.executedPlan.toString.take(1500))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(newFp)
  }

  test("hamming probe prunes to colliding chunk buckets via a broadcast semi-join") {
    // HammingIndex.probePairs' o(index) claim: the index's banding
    // rows meet the shard's broadcast (chunk, chunk_val) keys in a
    // broadcast LEFT SEMI join BEFORE the bucket shuffle, so only
    // colliding buckets move — per-probe cost is o(index) even as the
    // index grows. Pinned on the factored plan builder (probePairs
    // itself returns an eagerly checkpointed result). The pin holds
    // under the maxBucket skew cap too — the cap is a post-aggregation
    // filter, not a plan-shape change.
    val sigs = graft.operators.Dedup.simhashSignaturesMd5(
      graft.Tables.documents(spark, TestSpark.sfDir))
    val dir = java.nio.file.Files.createTempDirectory("graft_ham_planshape_")
    val path = dir.toAbsolutePath.toString
    graft.operators.HammingIndex.write(
      sigs.where(col("doc_id") % 3 =!= 2), path)
    val shard = sigs.where(col("doc_id") % 3 === 2)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        col("c0"), col("c1"), col("c2"), col("c3"))
      .localCheckpoint(true)
    try {
      val qe = graft.operators.HammingIndex
        .probePairsPlan(spark, path, shard, 3, maxBucket = 64)
        .queryExecution
      qe.toRdd.count()
      val semis = walkPlan(qe.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType.sql == "LEFT SEMI" => j
      }
      assert(semis.nonEmpty,
        s"expected a broadcast semi-join pruning the index banding:\n" +
          qe.executedPlan.toString.take(1500))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(shard)
  }

  test("record probe cuts the register to the shard's blocks via a broadcast semi-join") {
    // RecordIndex.probeShard's o(index) claim: the register scan
    // meets the shard's broadcast block keys in a broadcast LEFT SEMI
    // join BEFORE the pair equi-join streams any comparison, so probe
    // cost tracks the shard's block footprint, not the register.
    // Pinned on the factored plan builder (probeShard itself now
    // returns an eagerly checkpointed result — the LogicalRDD the
    // plan digest shows).
    val cust = graft.Tables.customer(spark, TestSpark.sfDir).select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("block"))
    val dir = java.nio.file.Files.createTempDirectory("graft_rec_planshape_")
    val path = dir.toAbsolutePath.toString
    graft.operators.RecordIndex.write(cust.where(col("id") % 3 =!= 2), path)
    val shard = cust.where(col("id") % 9 === 0)
      .select((col("id") + 1000000L).as("id"), col("name"), col("block"))
      .localCheckpoint(true)
    try {
      val qe = graft.operators.RecordIndex
        .probeShardOver(
          graft.operators.RecordIndex.readAll(spark, path), shard, 1)
        .queryExecution
      qe.toRdd.count()
      val semis = walkPlan(qe.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType.sql == "LEFT SEMI" => j
      }
      assert(semis.nonEmpty,
        s"expected a broadcast semi-join cutting the register to the " +
          s"shard's blocks:\n" + qe.executedPlan.toString.take(1500))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(shard)
  }

  test("text_bm25 reuses the per-doc aggregation exchange for corpus stats") {
    // dl + per-term tfs come from ONE explode+aggregation; the stats
    // branch is the identical subtree, so its shuffle must be reused,
    // not recomputed (a second corpus pass at 100 TB otherwise)
    val p = finalPlan("text_bm25")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"),
      "stats branch recomputes the per-doc aggregation:\n" + p.take(1500))
  }

  test("dedup_ngram_prefix computes df by aggregation, not a per-shingle window") {
    // a stop-shingle's postings list must not funnel through one
    // window task — df comes from a map-side-combinable groupBy whose
    // join back is AQE-skew-splittable
    val p = finalPlan("dedup_ngram_prefix")
    assert(!"windowspecdefinition\\(shingle".r.findFirstIn(p).isDefined,
      "df stage still windows over shingle:\n" + p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial_"),
      "df aggregation is not partial (map-side combinable)")
  }

  test("span dedup tests duplication by aggregation + hash join, not a window") {
    // same funnel discipline as dedup_ngram_prefix: a boilerplate
    // window key's postings must never pass through one window task,
    // and the join back onto the occurrence stream must be a hash
    // build (SMJ would sort the stream by window string); the only
    // window functions allowed are the per-document interval merge
    for (q <- Seq("dedup_spans", "dedup_spans_clean")) {
      val p = finalPlan(q)
      assert(!"windowspecdefinition\\(win".r.findFirstIn(p).isDefined,
        s"$q: duplication test windows over the window key:\n" + p.take(1200))
      assert(p.contains("ShuffledHashJoin"),
        s"$q: occurrence join is not a hash build:\n" + p.take(1200))
      assert(p.contains("partial_"),
        s"$q: window-frequency aggregation is not map-side combinable")
    }
  }

  test("text_gopher_quality is row-local: no aggregate, window, or hash shuffle") {
    // dup/top n-gram fractions are functions of one row — the kernel
    // plan must be scan → project → filter → project, nothing else
    // (the loader's spread() round-robin is the only allowed exchange)
    val p = finalPlan("text_gopher_quality")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("ObjectHashAggregate"),
      "gopher stats still aggregate:\n" + p.take(1200))
    assert(!p.contains("hashpartitioning"),
      "row-local kernel got shuffled on a key:\n" + p.take(1200))
    assert(!p.contains("Window"), "unexpected window:\n" + p.take(1200))
  }

  test("dedup_chunks: combinable min-struct agg, no window on the chunk key") {
    // a boilerplate chunk repeated corpus-wide must combine map-side;
    // a row_number window over the chunk key would funnel its whole
    // occurrence list through one task
    val p = finalPlan("dedup_chunks")
    assert(!p.contains("Window"), "window on chunk key:\n" + p.take(1200))
    assert(p.contains("partial_"), "first-occurrence agg lost its map-side partial")
  }

  test("emb_random_projection is row-local: no exchange, no aggregate node") {
    // each output dim is an in-row dot product against a literal
    // matrix — any shuffle or aggregation here means the JL front-end
    // stopped being the free pre-pass it exists to be
    val p = finalPlan("emb_random_projection")
    assert(!p.contains("hashpartitioning"),
      "JL projection shuffled:\n" + p.take(1200))
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      "JL projection aggregates:\n" + p.take(1200))
  }

  test("q_bloom_semi_join probes through broadcasts; no sort-merge join") {
    // the bloom's whole value is never shuffling the probe side until
    // after the bits have filtered it; all joins here must broadcast
    val p = finalPlan("q_bloom_semi_join")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("text_source_cap two-phase salted cap equals one global window") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
    val want = d.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10).select("source", "doc_id", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val got = SparkEntry.queries("text_source_cap")(spark, TestSpark.sfDir)
      .select("source", "doc_id", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("pageRank round: pre-partitioned edges never re-exchange") {
    // the per-round exchange budget is O(|V|): the contrib shuffle and
    // the inbound aggregation. The edge list arrives hash-partitioned
    // on src from its persisted InMemoryRelation (which preserves the
    // hash(src) outputPartitioning under AQE — a checkpoint's
    // LogicalRDD does NOT, see Graph.scala), so a third exchange —
    // re-shuffling |E| edge rows every round — must NOT appear.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = (1L to 300L).map(i => (i % 40, i % 37)).toDF("src", "dst")
    val e = edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodeInfo = e
      .select(explode(array(
        struct(col("src").as("node_id"), lit(1L).as("o")),
        struct(col("dst").as("node_id"), lit(0L).as("o")))).as("x"))
      .groupBy(col("x.node_id").as("node_id"))
      .agg(sum(col("x.o")).as("outdeg"))
      .withColumn("is_src", lit(1L)) // pageRank: every node a source
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      nodeInfo.count()
      val pr = nodeInfo.withColumn("pr", lit(1000000000000L))
      val qe = graft.operators.Graph.pprRound(e, nodeInfo, pr, broadcastState = false)
        .queryExecution
      qe.toRdd.count()
      // AQE's toString appends the pre-execution plan after the final
      // one — only the final section is the shape that actually ran
      // tree walk (NOT toString: nested InMemoryRelation descriptions
      // both embed their cache-BUILD exchanges — false positives — and
      // truncate the rest of the plan). InMemoryTableScanExec is a
      // leaf, so cache-build plans are naturally out of scope.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def walk(pl: SparkPlan): Seq[SparkPlan] = pl match {
        case a: AdaptiveSparkPlanExec => pl +: walk(a.executedPlan)
        case q: QueryStageExec => pl +: walk(q.plan)
        case _ => pl +: pl.children.flatMap(walk)
      }
      val nodes = walk(qe.executedPlan)
      val shuffles = nodes.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.size <= 2,
        s"expected <=2 per-round shuffles (contrib + inbound agg), got " +
          s"${shuffles.size}:\n${shuffles.mkString("\n")}")
      // specifically: no shuffle may sit ABOVE the cached |E|-row edge
      // scan — the round must reuse its hash(src) layout
      def isEdgeScan(pl: SparkPlan): Boolean = pl match {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m.output.map(_.name).toSet == Set("src", "dst")
        case _ => false
      }
      // the inbound join must consume the cached edge scan DIRECTLY —
      // no exchange between them (the aggregation shuffle above the
      // join moves O(|V|) partial sums and is expected)
      def keyNames(j: org.apache.spark.sql.execution.joins.HashJoin) =
        j.leftKeys.flatMap(_.references.map(_.name)).toSet
      val edgeJoin = nodes.find {
        case j: org.apache.spark.sql.execution.joins.HashJoin =>
          keyNames(j).contains("src") && walk(j).exists(isEdgeScan)
        case _ => false
      }
      assert(edgeJoin.isDefined, "inbound join over the edge cache not found")
      val exchangedEdges = walk(edgeJoin.get).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if walk(s).exists(isEdgeScan) => s
      }
      assert(exchangedEdges.isEmpty,
        "edge list re-exchanged below the join — cached hash(src) layout not reused:\n" +
          exchangedEdges.mkString("\n"))
    } finally { e.unpersist(); nodeInfo.unpersist() }
  }

  test("kCore round: one edge exchange; degree agg and src join in place") {
    // over a hash(src)-partitioned symmetric edge cache, a peel round
    // must cost ONE O(|E|) exchange: the src-degree window runs on the
    // cached layout, only the dst-degree window re-hashes, and the
    // closing swap restores hash(src) by renaming. The round must also
    // reference the state exactly once — a second reference (degree
    // agg + semi joins) doubles the plan tree per round and the
    // rendered plan string OOMs the driver at modest round counts.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val und = (1L to 300L).map(i => (i % 40, 100 + i % 37)).distinct
      .toDF("a", "b")
    val e = und
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      e.count()
      val qe = graft.operators.Graph.kCoreRound(e, k = 3).queryExecution
      qe.toRdd.count()
      val nodes = walkPlan(qe.executedPlan)
      val shuffles = nodes.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      def hasEdgeScan(pl: org.apache.spark.sql.execution.SparkPlan) =
        walkPlan(pl).exists {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            m.output.map(_.name).toSet == Set("src", "dst")
          case _ => false
        }
      val edgeShuffles = shuffles.filter(hasEdgeScan)
      assert(edgeShuffles.size <= 1,
        s"peel round must re-hash the edge list at most once, got " +
          s"${edgeShuffles.size}:\n${edgeShuffles.mkString("\n")}")
      assert(shuffles.size <= 1,
        s"expected 1 shuffle per peel round (the dst-degree window), " +
          s"got ${shuffles.size}:\n${shuffles.mkString("\n")}")
      // single state reference: exactly one scan of the edge cache
      val cacheScans = nodes.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if m.output.map(_.name).toSet == Set("src", "dst") => m
      }
      assert(cacheScans.size == 1,
        s"round must reference the state exactly once (plan-size doubling " +
          s"otherwise), got ${cacheScans.size} cache scans")
    } finally e.unpersist()
  }

  test("labelPropagation round: pre-partitioned edges never re-exchange") {
    // per-round moving data must be O(|V|): the label state shuffles
    // to meet the hash(src) edge cache, votes combine map-side, the
    // argmax is one combinable max_by. The |E|-row edge list itself
    // must never re-exchange.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = (1L to 300L).map(i => (i % 40, i % 37)).toDF("src", "dst")
    val e = edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lbl = e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id")))
        .distinct()
        .select(col("node_id"), col("node_id").as("community"))
        .localCheckpoint(true)
      val qe = graft.operators.Graph.labelPropRound(e, lbl, broadcastState = false)
        .queryExecution
      qe.toRdd.count()
      val plNodes = walkPlan(qe.executedPlan)
      def isEdgeScan(pl: org.apache.spark.sql.execution.SparkPlan): Boolean =
        pl match {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            m.output.map(_.name).toSet == Set("src", "dst")
          case _ => false
        }
      // the vote join must consume the cached edge scan DIRECTLY — no
      // exchange between them (shuffles ABOVE the join move O(|V|)
      // vote partials and label state, and are expected)
      val voteJoin = plNodes.find {
        case j: org.apache.spark.sql.execution.joins.HashJoin =>
          j.leftKeys.flatMap(_.references.map(_.name)).contains("src") &&
            walkPlan(j).exists(isEdgeScan)
        case _ => false
      }
      assert(voteJoin.isDefined, "vote join over the edge cache not found")
      val exchangedEdges = walkPlan(voteJoin.get).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if walkPlan(s).exists(isEdgeScan) => s
      }
      assert(exchangedEdges.isEmpty,
        "edge list re-exchanged below the vote join — cached hash(src) " +
          s"layout not reused:\n${exchangedEdges.mkString("\n")}")
      val shuffles = plNodes.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      // expected: label state → hash(src) for the vote join, the
      // map-side-combined (dst, community) vote pairs, the argmax
      // partials on node_id, and label state → hash(node_id) for the
      // reattach (the round checkpoint forgets its layout). All are
      // O(|V|)-class or partial-aggregated; the |E|-row edge list is
      // the one relation that must never appear here.
      assert(shuffles.size <= 4,
        s"per-round shuffle budget exceeded: ${shuffles.size}:\n" +
          shuffles.mkString("\n"))
      val windows = plNodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, "vote argmax must be a combinable max_by, not a window")
    } finally e.unpersist()
  }

  test("boundedSssp round: pre-partitioned edges never re-exchange; frontier-only join") {
    // per-round moving data must be O(|V|): the frontier shuffles to
    // meet the hash(src) edge cache, candidate relaxations combine
    // map-side into one min per dst, and the state merge is one
    // |V|-row outer join. The |E|-row weighted edge list itself must
    // never re-exchange.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = (1L to 300L).map(i => (i % 40, i % 37, 1L + i % 5))
      .toDF("src", "dst", "w")
    val e = edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val state = Seq((0L, 0L, true), (1L, 0L, true))
        .toDF("node_id", "dist", "improved")
        .localCheckpoint(true)
      val qe = graft.operators.Graph.ssspRound(e, state).queryExecution
      qe.toRdd.count()
      val plNodes = walkPlan(qe.executedPlan)
      def isEdgeScan(pl: org.apache.spark.sql.execution.SparkPlan): Boolean =
        pl match {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            m.output.map(_.name).toSet == Set("src", "dst", "w")
          case _ => false
        }
      val relaxJoin = plNodes.find {
        case j: org.apache.spark.sql.execution.joins.HashJoin =>
          walkPlan(j).exists(isEdgeScan)
        case _ => false
      }
      assert(relaxJoin.isDefined, "relaxation join over the edge cache not found")
      val exchangedEdges = walkPlan(relaxJoin.get).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if walkPlan(s).exists(isEdgeScan) => s
      }
      assert(exchangedEdges.isEmpty,
        "edge list re-exchanged below the relaxation join — cached " +
          s"hash(src) layout not reused:\n${exchangedEdges.mkString("\n")}")
      // expected: frontier → hash(src) for the relax join, the
      // map-side-combined min partials on dst, and the two outer-join
      // sides → hash(node_id). The edge list must never appear.
      val shuffles = plNodes.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.size <= 4,
        s"per-round shuffle budget exceeded: ${shuffles.size}:\n" +
          shuffles.mkString("\n"))
      val windows = plNodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        "candidate fold must be a combinable min, not a window")
    } finally e.unpersist()
  }

  test("HITS half-steps stream each edge cache without re-exchanging it") {
    // the authority step joins on `src` and must consume the
    // hash(src)-partitioned edge cache in place; the hub step joins
    // on `dst` and must consume the hash(dst) twin in place. Keying
    // either half-step against the WRONG cache keeps results correct
    // but re-exchanges the full O(|E|) edge list every half-step —
    // the regression this pin exists to catch (r9 shipped exactly
    // that: eDst in the authority step, eSrc in the hub step).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = (1L to 300L).map(i => (i % 40, 100 + i % 37)).toDF("src", "dst")
    val eSrc = edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = edges.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      eSrc.count(); eDst.count()
      val state = eSrc.select(col("src").as("node_id"))
        .union(eSrc.select(col("dst").as("node_id")))
        .distinct()
        .select(col("node_id"), lit(1000000000000L).as("hub"),
          lit(1000000000000L).as("auth"))
        .localCheckpoint(true)
      def isEdgeScan(pl: org.apache.spark.sql.execution.SparkPlan): Boolean =
        pl match {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            m.output.map(_.name).toSet == Set("src", "dst")
          case _ => false
        }
      def assertNoEdgeReExchange(
          df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val qe = df.queryExecution
        qe.toRdd.count()
        val nodes = walkPlan(qe.executedPlan)
        // the half-step join must sit over the cache scan...
        val halfJoin = nodes.find {
          case j: org.apache.spark.sql.execution.joins.HashJoin =>
            walkPlan(j).exists(isEdgeScan)
          case _ => false
        }
        assert(halfJoin.isDefined, s"$label: edge-cache join not found")
        // ...and consume it DIRECTLY: no exchange between the join and
        // the edge scan (the aggregation shuffle ABOVE the join moves
        // map-side-combined O(|V|) partials and is expected)
        val exchangedEdges = walkPlan(halfJoin.get).collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if walkPlan(s).exists(isEdgeScan) => s
        }
        assert(exchangedEdges.isEmpty,
          s"$label: edge cache re-exchanged below the half-step join — " +
            s"wrong cache keyed:\n${exchangedEdges.mkString("\n")}")
      }
      val rawA = graft.operators.Graph.hitsRawAuth(eSrc, state, broadcastState = false)
      assertNoEdgeReExchange(rawA, "authority step")
      val aNorm = graft.operators.Graph
        .hitsMaxNorm(rawA.localCheckpoint(true), "ra", "auth")
      assertNoEdgeReExchange(
        graft.operators.Graph.hitsRawHub(eDst, aNorm, broadcastState = false),
        "hub step")
    } finally { eSrc.unpersist(); eDst.unpersist() }
  }

  test("broadcast graph rounds run with ZERO shuffle exchanges") {
    // the small-|V| regime's whole point: each round is one stage
    // over the regime-keyed edge cache — the state broadcasts in, the
    // aggregation runs in place on the cache's hash layout, and the
    // O(|V|) result broadcasts back. Any ShuffleExchangeExec anywhere
    // in the executed round plan (including inside broadcast-build
    // subtrees) is the regression this pin catches.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = (1L to 300L).map(i => (i % 40, 100 + i % 37)).toDF("src", "dst")
    val eDst = edges.repartition(col("dst")).persist(lvl)
    val eSrc = edges.repartition(col("src")).persist(lvl)
    try {
      eDst.count(); eSrc.count()
      def assertNoShuffle(
          df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val qe = df.queryExecution
        qe.toRdd.count()
        val shuffles = walkPlan(qe.executedPlan).collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
        }
        assert(shuffles.isEmpty,
          s"$label: broadcast round shuffled:\n${shuffles.mkString("\n")}")
      }
      // pageRank / PPR rounds over the hash(dst) cache
      val nodeInfo = eDst
        .select(explode(array(
          struct(col("src").as("node_id"), lit(1L).as("o")),
          struct(col("dst").as("node_id"), lit(0L).as("o")))).as("x"))
        .groupBy(col("x.node_id").as("node_id"))
        .agg(sum(col("x.o")).as("outdeg"))
        .persist(lvl)
      nodeInfo.count()
      val allSrc = nodeInfo.withColumn("is_src", lit(1L)) // pageRank
      val pr = allSrc.withColumn("pr", lit(1000000000000L))
      assertNoShuffle(
        graft.operators.Graph.pprRound(eDst, allSrc, pr, broadcastState = true),
        "pprRound, every node a source")
      val pprState = nodeInfo
        .withColumn("is_src", (col("node_id") < 5L).cast("long"))
        .withColumn("pr", col("is_src") * lit(1000000000000L))
      assertNoShuffle(
        graft.operators.Graph.pprRound(
          eDst, nodeInfo.withColumn("is_src", (col("node_id") < 5L).cast("long")),
          pprState, broadcastState = true),
        "pprRound")
      nodeInfo.unpersist()
      // labelPropagation round over the hash(dst) cache
      val lbl = eDst.select(col("src").as("node_id"))
        .union(eDst.select(col("dst").as("node_id")))
        .distinct()
        .select(col("node_id"), col("node_id").as("community"))
        .localCheckpoint(true)
      assertNoShuffle(
        graft.operators.Graph.labelPropRound(eDst, lbl, broadcastState = true),
        "labelPropRound")
      // HITS half-steps: authority aggregates on dst → hash(dst)
      // cache; hub aggregates on src → hash(src) cache
      val state = lbl.select(col("node_id"), lit(1000000000000L).as("hub"))
      assertNoShuffle(
        graft.operators.Graph.hitsRawAuth(eDst, state, broadcastState = true),
        "hitsRawAuth")
      val auth = lbl.select(col("node_id"), lit(1000000000000L).as("auth"))
      assertNoShuffle(
        graft.operators.Graph.hitsRawHub(eSrc, auth, broadcastState = true),
        "hitsRawHub")
      // kCore peel round over a symmetric hash(src)-partitioned state:
      // the degree agg runs in place, the alive set broadcasts back
      val sym = edges
        .select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("x"))
        .select(col("x.s").as("src"), col("x.d").as("dst"))
        .distinct()
        .repartition(col("src"))
        .persist(lvl)
      try {
        sym.count()
        assertNoShuffle(
          graft.operators.Graph.kCoreRoundBc(sym, k = 3), "kCoreRoundBc")
      } finally sym.unpersist()
    } finally { eDst.unpersist(); eSrc.unpersist() }
  }

  test("graph_triangles never sorts the wedge stream") {
    // the adjacency joins must stay hash-family; a sort-merge shape
    // would sort the edge stream (and its attached neighbor lists)
    import spark.implicits._
    val adj = Seq((1L, Seq(2L, 3L)), (2L, Seq(3L, 4L))).toDF("src", "nbrs")
      .localCheckpoint(true)
    val qe = graft.operators.Graph.trianglePlan(adj).queryExecution
    qe.toRdd.count()
    val p = qe.executedPlan.toString
    // AQE may legitimately promote the tiny test inputs to broadcast;
    // the invariant is hash-family joins and NO sort of the stream
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      "closure/wedge joins lost their hash-join shape:\n" + p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "wedge pipeline regressed to sort-merge:\n" + p.take(800))
  }

  test("text_global_ids ranks the corpus inside buckets, never one partition") {
    val p = finalPlan("text_global_ids")
    val rnWindows = p.linesIterator
      .filter(l => l.contains("row_number") && l.contains("windowspecdefinition"))
      .toList
    assert(rnWindows.nonEmpty, "no row_number window found:\n" + p.take(800))
    // the partition spec must lead with the bucket column — a global
    // row_number (empty partition spec) would funnel the corpus
    // through one task
    rnWindows.foreach(l =>
      assert(l.contains("windowspecdefinition(bucket#"),
        s"corpus window not partitioned by bucket: $l"))
  }

  test("ref decode chains evaluate each from_json exactly once per row") {
    // without the OptimizerBarrier, predicate pushdown duplicates the
    // whole envelope→unbase64→customer chain once per filter conjunct
    // (3x per row); these pins hold that fix in place
    assert(jsonParseCount("ref_customer_decode", "customerName") === 1)
    assert(jsonParseCount("ref_customer_decode", "zSetEntries") === 1)
    assert(jsonParseCount("ref_join_json", "customerName") === 1)
    assert(jsonParseCount("ref_join_json", "zSetEntries") === 1)
    assert(jsonParseCount("ref_join_json", "riskDate") === 1)
    assert(jsonParseCount("ref_risk_decode", "riskDate") === 1)
  }

  test("as-of join is one shuffle + window, not a join explosion") {
    val p = plan("q_asof_join")
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val o = Tables.orders(spark, TestSpark.sfDir)
    val c = Tables.customer(spark, TestSpark.sfDir)
    try {
      o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/b_orders").saveAsTable("b_orders")
      c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$dir/b_customer").saveAsTable("b_customer")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val qe = spark.table("b_orders")
          .join(spark.table("b_customer"),
            org.apache.spark.sql.functions.col("o_custkey") ===
              org.apache.spark.sql.functions.col("c_custkey"))
          .queryExecution
        qe.toRdd.count()
        val p = qe.executedPlan.toString
        assert(p.contains("SortMergeJoin"), p.take(400))
        assert(!p.contains("Exchange"),
          "bucketed join should not shuffle:\n" + p.take(1200))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("ivf serveAll: every index segment scan is dynamically partition-pruned") {
    // the IvfIndex scaladoc's central claim — the probe join's c_id
    // filter reaches every segment's parquet source as a PARTITION
    // filter (dynamic partition pruning), so the un-probed share of
    // the corpus is never read, base and delta segments alike. If a
    // refactor breaks DPP the serve silently becomes a full-index
    // scan: correctness holds, the 100 TB story dies. This pins it.
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_dpp").toString
    graft.operators.IvfIndex.write(e.where(col("vec_id") % 2 === 0), seeds, path)
    graft.operators.IvfIndex.appendEpoch(spark, path, 0L,
      e.where(col("vec_id") % 2 =!= 0).select(col("vec_id"), col("embedding")))
    val queries = e.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val qe = graft.operators.IvfIndex
      .serveAll(spark, path, queries, k = 5, nProbe = 2).queryExecution
    qe.toRdd.count()
    val segScans = walkPlan(qe.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.getOrElse("Location", "").contains(path) &&
          !f.metadata.getOrElse("Location", "").contains("centroids") => f }
    assert(segScans.size >= 2,
      s"expected base + delta segment scans, got ${segScans.size}")
    segScans.foreach { f =>
      assert(f.partitionFilters.mkString.contains("dynamicpruning"),
        "segment scan is not dynamically partition-pruned on c_id:\n" +
          f.metadata.getOrElse("Location", "") + "\n" +
          f.partitionFilters.mkString("; "))
    }
  }

  test("ivfPq serveAll: every code segment scan is dynamically partition-pruned") {
    // the persisted IVFADC tier's disk-round-trip claim: the LUT
    // broadcast join's c_id filter reaches every code segment's
    // parquet source as a partition filter, so the IVF pruning term
    // survives persistence — without it the serve silently degrades
    // to scanning every inverted list's codes. Same law the IVF tier
    // pins; the codes are the doubly-compressed payload here.
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seeds = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val cb = graft.operators.Similarity.ivfPqSeedCodebook(e, seeds)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_dpp").toString
    graft.operators.IvfPqIndex.write(
      e.where(col("vec_id") % 2 === 0), seeds, cb, path)
    graft.operators.IvfPqIndex.appendEpoch(spark, path, 0L,
      e.where(col("vec_id") % 2 =!= 0))
    val queries = e.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val qe = graft.operators.IvfPqIndex
      .serveAll(spark, path, queries, k = 5, nProbe = 4).queryExecution
    qe.toRdd.count()
    val segScans = walkPlan(qe.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.getOrElse("Location", "").contains(path) &&
          !f.metadata.getOrElse("Location", "").contains("centroids") &&
          !f.metadata.getOrElse("Location", "").contains("codebook") &&
          !f.metadata.getOrElse("Location", "").contains("meta") => f }
    assert(segScans.size >= 2,
      s"expected base + delta code segment scans, got ${segScans.size}")
    segScans.foreach { f =>
      assert(f.partitionFilters.mkString.contains("dynamicpruning"),
        "code segment scan is not dynamically partition-pruned on c_id:\n" +
          f.metadata.getOrElse("Location", "") + "\n" +
          f.partitionFilters.mkString("; "))
    }
  }

  test("semantic admission probe: index segment scans are statically partition-pruned") {
    // probeSemantic's o(index) claim: the shard's touched c_ids are
    // pushed into the c_id-partitioned index segments as a LITERAL
    // IN partition filter at planning time — inverted lists the shard
    // doesn't touch are never read (DPP would skip a filter-less
    // broadcast side, so the pruning is static by construction).
    // Pinned on the factored builder (the operator surface hides the
    // join behind its eager checkpoint).
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seeds = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_semdpp").toString
    graft.operators.IvfIndex.write(e.where(col("vec_id") % 2 === 0), seeds, path)
    graft.operators.IvfIndex.appendEpoch(spark, path, 0L,
      e.where(col("vec_id") % 2 =!= 0))
    val shard = graft.operators.Similarity.ivfAssign(
        e.where(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        spark.read.parquet(s"$path/centroids"))
      .localCheckpoint(true)
    try {
      val qe = graft.operators.IvfIndex
        .probeSemanticPlan(spark, path, shard, 0.9).queryExecution
      qe.toRdd.count()
      val segScans = walkPlan(qe.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.getOrElse("Location", "").contains(path) &&
            !f.metadata.getOrElse("Location", "").contains("centroids") => f }
      assert(segScans.size >= 2,
        s"expected base + delta segment scans, got ${segScans.size}")
      segScans.foreach { f =>
        assert(f.partitionFilters.exists(p =>
            p.toString.contains("c_id") && (p.toString.contains(" IN ") ||
              p.toString.contains("INSET"))),
          "probe segment scan carries no literal c_id IN partition filter:\n" +
            f.metadata.getOrElse("Location", "") + "\n" +
            f.partitionFilters.mkString("; "))
      }
    } finally graft.operators.Storage.unpersistLocalCheckpoint(shard)
  }
}
