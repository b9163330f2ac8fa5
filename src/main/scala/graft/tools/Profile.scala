package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev profiling harness: time arbitrary stages of a query at a given
  * scale factor. Not part of the driver contract. Round 6 focus: the
  * iterative tail (kmeans / pagerank / triangles / BPE) + q_cube. */
object Profile {
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val what = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "all")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(tag: String)(body: => Unit): Unit =
      if (what == "all" || what.split(",").contains(tag)) body

    run("kmeans") {
      val e = graft.Tables.embeddings(spark, sfDir)
      time("emb count")(e.count())
      for (i <- 1 to 3) {
        val c = time(s"kmeans i3 #$i")(
          graft.operators.Similarity.kmeans(e, k = 16, iters = 3))
        time(s"  consume #$i")(noop(c))
        graft.operators.Storage.unpersistLocalCheckpoint(c)
      }
      val cents = graft.operators.Similarity.kmeans(e, k = 16, iters = 3)
      time("ivfKnnWith tail")(noop(
        graft.operators.Similarity.ivfKnnWith(e, cents, 8, 5, 4)))
      graft.operators.Storage.unpersistLocalCheckpoint(cents)
      time("semanticDedup full")(noop(
        graft.operators.Similarity.semanticDedup(e, k = 16, iters = 3)))
    }

    run("graph") {
      val li = graft.Tables.lineitem(spark, sfDir)
      val ord = graft.Tables.orders(spark, sfDir)
      for (i <- 1 to 3) {
        val edges = ord.select("o_orderkey", "o_custkey")
          .join(li.select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"))
          .select(explode(array(
            struct(col("c").as("src"), col("sp").as("dst")),
            struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val pr = time(s"pageRank i3 #$i")(
          graft.operators.Graph.pageRank(edges, iters = 3))
        time(s"  pr consume #$i")(noop(pr.orderBy(col("pr").desc).limit(20)))
        graft.operators.Storage.unpersistLocalCheckpoint(pr)
      }
      val und = li
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
      time("und construction")(noop(und))
      val undCk = und.localCheckpoint(true)
      time("und count")(println("  |und| = " + undCk.count()))
      for (i <- 1 to 3) {
        val t = time(s"triangleCounts #$i")(
          graft.operators.Graph.triangleCounts(undCk))
        time(s"  tri consume #$i")(noop(t))
        graft.operators.Storage.unpersistLocalCheckpoint(t)
      }
      graft.operators.Storage.unpersistLocalCheckpoint(undCk)
    }

    run("bpe") {
      val docs = graft.Tables.documents(spark, sfDir)
      val m = time("bpe learn m6")(graft.operators.Bpe.learn(docs, 6))
      time("bpe learn consume")(noop(m))
      for (i <- 1 to 3)
        time(s"bpe encodeFast #$i")(noop(graft.operators.Bpe.encodeFast(docs, m)))
      graft.operators.Storage.unpersistLocalCheckpoint(m)
    }

    // Staged profile of the CURRENT adjacency-first triangle pipeline
    // (VERDICT r6 "wrong" #1): splits adjacency build / orientation /
    // closure join / intersection+agg, A/B long vs int-packed ids.
    run("tridebug") {
      val li = graft.Tables.lineitem(spark, sfDir)
      val undL = li
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
        .localCheckpoint(true)
      println("  |und| = " + undL.count())
      for (pack <- Seq(false, true); i <- 1 to 3) {
        val tag = if (pack) "int" else "long"
        val und = if (pack)
          undL.select(col("a").cast("int").as("a"), col("b").cast("int").as("b"))
          else undL
        // stage A: full adjacency (explode + groupBy + persist)
        val adjFull = und
          .select(explode(array(
            struct(col("a").as("node"), col("b").as("nbr")),
            struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
          .groupBy(col("e.node").as("node"))
          .agg(collect_list(col("e.nbr")).as("all_nbrs"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time(s"[$tag #$i] A adjFull build")(adjFull.count())
        // stage B: orientation join + oriented adjacency (persist)
        val degs = adjFull.select(col("node").as("v"),
          size(col("all_nbrs")).as("dv"))
        val adj = adjFull
          .select(col("node").as("u"), size(col("all_nbrs")).as("du"),
            explode(col("all_nbrs")).as("v"))
          .join(degs.hint("shuffle_hash"), "v")
          .where(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
          .groupBy(col("u").as("src"))
          .agg(sort_array(collect_list(col("v"))).as("nbrs"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time(s"[$tag #$i] B orient+adj")(adj.count())
        println("    Σ outdeg  = " + adj.agg(sum(size(col("nbrs")))).first.getLong(0))
        println("    Σ outdeg² = " + adj.agg(
          sum(size(col("nbrs")).cast("long") * size(col("nbrs")))).first.getLong(0))
        // stage C1: closure join only (ship nu, probe v, no intersect)
        val edges = adj
          .select(col("src").as("u"), col("nbrs").as("nu"),
            explode(col("nbrs")).as("v"))
        val joined = edges
          .join(adj.select(col("src").as("v_"), col("nbrs").as("nv"))
            .hint("shuffle_hash"), col("v") === col("v_"))
        time(s"[$tag #$i] C1 closure join")(
          joined.select(col("u")).groupBy().count().first)
        // stage C2: join + intersect, combinable sum only (no per-node
        // contribution shuffle)
        time(s"[$tag #$i] C2 +intersect sum")(
          joined.select(size(graft.functions.SortedIntersect(
            col("nu"), col("nv"))).cast("long").as("t"))
            .agg(sum(col("t"))).first)
        // stage C3: the full trianglePlan (intersect + contribution agg)
        time(s"[$tag #$i] C3 full closure")(
          noop(graft.operators.Graph.trianglePlan(adj)))
        adj.unpersist(blocking = false)
        adjFull.unpersist(blocking = false)
      }
      // end-to-end, both packings, via the public operator
      for (pack <- Seq(false, true); i <- 1 to 3) {
        val t = time(s"[e2e pack=$pack #$i] triangleCounts")(
          graft.operators.Graph.triangleCounts(undL, packIds = pack))
        time(s"  consume")(noop(t))
        graft.operators.Storage.unpersistLocalCheckpoint(t)
      }
      graft.operators.Storage.unpersistLocalCheckpoint(undL)
    }

    run("kmdebug") {
      val e = graft.Tables.embeddings(spark, sfDir)
      e.count()
      val dims = 64; val k = 16
      val emb = e.select(col("vec_id"), col("embedding"))
      def assignTo(centsRow: DataFrame): DataFrame =
        emb.crossJoin(broadcast(centsRow))
          .select(col("vec_id"), col("embedding"),
            aggregate(col("cents"),
              struct(lit(Double.NegativeInfinity).as("key"), lit(-1L).as("c_id")),
              (acc, c) => {
                val cs = graft.functions.CosineSimilarity(col("embedding"), c.getField("c_vec"))
                val key = when(isnan(cs), lit(Double.NegativeInfinity)).otherwise(cs)
                when(key > acc.getField("key") || acc.getField("c_id") === -1L,
                  struct(key.as("key"), c.getField("c_id").as("c_id")))
                  .otherwise(acc)
              }).getField("c_id").as("c_id"))
      // mirrors kmeans' production fixed-point recipe (Similarity.fpSum)
      // so the staged timings reflect the real aggregation shape
      val sumCols = (0 until dims).map(d =>
        sum(floor(element_at(col("embedding"), d + 1).cast("double")
            * math.pow(2, 36) + 0.5)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(s"s$d"))
      def recompute(assigned: DataFrame): DataFrame =
        assigned.groupBy("c_id")
          .agg(sumCols.head, (sumCols.tail :+ count(lit(1)).as("n")): _*)
          .select(col("c_id"),
            array((0 until dims).map(d =>
              (col(s"s$d").cast("double") / col("n") / math.pow(2, 36))
                .cast("float")): _*).as("c_vec"))
      // seed in one-row form
      val seedRow = emb.where(col("vec_id") < k)
        .agg(array_sort(collect_list(
          struct(col("vec_id").as("c_id"), col("embedding").as("c_vec")))).as("cents"))
        .localCheckpoint(true)
      for (i <- 1 to 3) {
        val kRows = time(s"round->k-rows #$i")(
          recompute(assignTo(seedRow)).localCheckpoint(true))
        graft.operators.Storage.unpersistLocalCheckpoint(kRows)
        val oneRow = time(s"round->1-row #$i")(
          recompute(assignTo(seedRow))
            .agg(array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cents"))
            .localCheckpoint(true))
        graft.operators.Storage.unpersistLocalCheckpoint(oneRow)
        val noopFused = time(s"1-row noop (no ckpt) #$i")(
          noop(recompute(assignTo(seedRow))
            .agg(array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cents"))))
        val kThenFold = time(s"k-rows then fold #$i") {
          val kr = recompute(assignTo(seedRow)).localCheckpoint(true)
          val f = kr
            .agg(array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cents"))
            .localCheckpoint(true)
          graft.operators.Storage.unpersistLocalCheckpoint(kr); f
        }
        graft.operators.Storage.unpersistLocalCheckpoint(kThenFold)
      }
      println("==== fused plan ====")
      recompute(assignTo(seedRow))
        .agg(array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cents"))
        .explain("formatted")
      graft.operators.Storage.unpersistLocalCheckpoint(seedRow)
    }

    // round-18: pageRank stage split — edge build vs rounds (the
    // broadcast-regime round-chain candidate)
    run("graphsplit") {
      val li = graft.Tables.lineitem(spark, sfDir)
      val ord = graft.Tables.orders(spark, sfDir)
      def edges = ord.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 10000000000L).as("sp"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      for (i <- 1 to 3) {
        val raw = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nodeInfo = raw
          .select(explode(array(
            struct(col("src").as("node_id"), lit(1L).as("o")),
            struct(col("dst").as("node_id"), lit(0L).as("o")))).as("x"))
          .groupBy(col("x.node_id").as("node_id"))
          .agg(sum(col("x.o")).as("outdeg"))
          .withColumn("is_src", lit(1L))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time(s"edge+nodeInfo count #$i")(nodeInfo.count())
        val e = raw.repartition(col("dst"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time(s"edge partition+persist #$i")(e.count())
        var pr = nodeInfo.withColumn("pr", lit(1000000000000L))
        for (r <- 1 to 3)
          pr = time(s"round $r #$i")(
            graft.operators.Graph.pprRound(e, nodeInfo, pr, broadcastState = true)
              .localCheckpoint(true))
        time(s"consume #$i")(noop(pr.select(col("node_id"), col("pr"))))
        raw.unpersist(false); nodeInfo.unpersist(false); e.unpersist(false)
      }
    }

    // round-17 optimization profiles ----------------------------------

    // connected components: rounds + per-call cost on the two hot pair
    // graphs (image aHash pairs, multi-field ER pairs). Run with
    // GRAFT_CC_DEBUG=1 to see the round count.
    run("cc") {
      val docs = graft.Tables.documents(spark, sfDir)
      val sigs = graft.multimodal.Multimodal.imageAHash(
        spark, graft.multimodal.Multimodal.imageAssets(spark, docs)).toDF()
        .withColumnRenamed("asset_id", "doc_id").localCheckpoint(true)
      val pairs = graft.operators.Dedup
        .hammingChunkPairs(sigs, maxHamming = 3).localCheckpoint(true)
      println("  |pairs| = " + pairs.count())
      for (i <- 1 to 3) {
        val cc = time(s"cc(image pairs) #$i")(
          graft.operators.Dedup.connectedComponents(pairs))
        time("  consume")(noop(cc))
        graft.operators.Storage.unpersistLocalCheckpoint(cc)
      }
      graft.operators.Storage.unpersistLocalCheckpoint(pairs)
      graft.operators.Storage.unpersistLocalCheckpoint(sigs)
      val recs = graft.Tables.customer(spark, sfDir).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
        col("c_nationkey"))
      val erPairs = graft.operators.EntityResolution.blockedPairsMulti(recs,
        blockCols = Seq("c_nationkey"),
        fields = Seq(
          graft.operators.EntityResolution.FuzzyField("name", 2, 3),
          graft.operators.EntityResolution.ExactField("segment", 2),
          graft.operators.EntityResolution.NumericField("acctbal", 100.0, 1)),
        minScore = 4).localCheckpoint(true)
      println("  |er pairs| = " + erPairs.count())
      for (i <- 1 to 3) {
        val cc = time(s"cc(er pairs) #$i")(
          graft.operators.Dedup.connectedComponents(erPairs))
        time("  consume")(noop(cc))
        graft.operators.Storage.unpersistLocalCheckpoint(cc)
      }
      graft.operators.Storage.unpersistLocalCheckpoint(erPairs)
    }

    // admission loop: per-epoch decide vs index-append split (the
    // 3-store text loop — the baseline the other folds extend)
    run("admission") {
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_prof_adm_").toString
      graft.operators.Admission.init(spark, dir)
      def shard(e: Int) = {
        val own = docs.where(col("doc_id") % 3 === e)
        val withDupes = own.unionByName(
          docs.where(col("doc_id") % 3 === e && col("doc_id") % 7 === 0)
            .select((col("doc_id") + 30000000000L).as("doc_id"), col("text")))
        if (e == 0) withDupes
        else withDupes.unionByName(
          docs.where(col("doc_id") % 3 === e - 1 && col("doc_id") % 5 === 0)
            .select((col("doc_id") + lit(10000000000L * e)).as("doc_id"),
              col("text")))
      }
      for (e <- 0 to 2)
        time(s"admitEpoch $e")(
          graft.operators.Admission.admitEpoch(
            spark, dir, e.toLong, shard(e)).count())
    }

    // IVFADC training: coarse kmeans vs residual codebook split
    run("ivfpqtrain") {
      val e = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      e.count()
      for (i <- 1 to 3) {
        val cents = time(s"coarse kmeans #$i")(
          graft.operators.Similarity.kmeans(e, 16, 3, dims = 64))
        val (c2, cb) = time(s"full ivfPqTrainState #$i")(
          graft.operators.Similarity.ivfPqTrainState(e))
        graft.operators.Storage.unpersistLocalCheckpoint(cents)
        graft.operators.Storage.unpersistLocalCheckpoint(c2)
        graft.operators.Storage.unpersistLocalCheckpoint(cb)
      }
    }

    run("ivfpqcycle") {
      // step-level split of knn_ivfpq_trained_delta (train → write →
      // append×2 → compact → gc → serve), the round-18 item-2 target
      val e = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      e.count()
      for (i <- 1 to 3) {
        val (centroids, cbPerM) = time(s"trainState #$i")(
          graft.operators.Similarity.ivfPqTrainState(e))
        val dir = java.nio.file.Files.createTempDirectory("graft_prof_ivfpq_")
        val path = dir.toAbsolutePath.toString
        time(s"writeTrained #$i")(graft.operators.IvfPqIndex.writeTrained(
          e.where(col("vec_id") % 3 =!= 2), centroids, cbPerM, path))
        graft.operators.Storage.unpersistLocalCheckpoint(centroids)
        graft.operators.Storage.unpersistLocalCheckpoint(cbPerM)
        time(s"appends(par) #$i")(graft.operators.Storage.runConcurrently(Seq(
          () => { graft.operators.IvfPqIndex.appendEpoch(spark, path, 0L,
            e.where(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0)); () },
          () => { graft.operators.IvfPqIndex.appendEpoch(spark, path, 1L,
            e.where(col("vec_id") % 3 === 2 && col("vec_id") % 2 =!= 0)); () })))
        time(s"compact #$i")(graft.operators.IvfPqIndex.compact(spark, path))
        time(s"gc #$i")(graft.operators.IvfPqIndex.gc(spark, path))
        time(s"serveAll #$i")(noop(graft.operators.IvfPqIndex.serveAll(
          spark, path,
          e.where(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("q")),
          k = 5, nProbe = 4)))
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
    }

    run("cube") {
      val q = graft.SparkEntry.queries("q_cube")
      for (i <- 1 to 10) time(s"q_cube #$i")(noop(q(spark, sfDir)))
      val r = graft.SparkEntry.queries("q_rollup")
      for (i <- 1 to 3) time(s"q_rollup #$i")(noop(r(spark, sfDir)))
    }

    spark.stop()
  }
}
