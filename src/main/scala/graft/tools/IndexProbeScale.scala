package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decoupled index-vs-shard scale probe for the persisted dedup/ANN
  * indexes — the measurement behind the o(index)-probe claim
  * (MinHashIndex.scala: a probe's work is sized by the SHARD, with
  * the index side behind broadcast semi-joins / partition pruning).
  *
  * [[ScaleProbe]] scales the whole input directory, which grows index
  * AND shard together; this tool scales them INDEPENDENTLY:
  *
  *  - axis A (the claim under test): index 1× vs 10×, shard FIXED —
  *    probe time must grow far sub-linearly in index size (the only
  *    O(index) component left is the narrow banding/hash-column scan
  *    feeding the broadcast semi-join; candidate generation, exact
  *    verification, and every shuffle are shard-sized);
  *  - axis B (the honest denominator): index FIXED at 1×, shard 1× vs
  *    10× — probe time is expected ~linear in shard size, which is
  *    what "the probe costs o(index) but O(shard)" means.
  *
  * Inputs: the 1× tables under SPARK_GRAFT_SF_DIR and the 10×
  * disjoint-copy blow-up under SPARK_GRAFT_SCALE_DIR (build it first
  * with [[ScaleProbe]] — the suffixed-token copies keep near-dup
  * structure per copy isomorphic to 1×, so the FIXED shard finds the
  * same candidates against both index sizes and the measurement
  * isolates plan scaling, not match-volume blow-up). Indexes build
  * once under SPARK_GRAFT_PROBE_DIR (marker-guarded), OUTSIDE the
  * timed region. Timings are interleaved A/B, 3 passes, medians
  * printed as [probe-json] lines; results land in SCALE10X.md.
  * Not part of the driver contract. */
object IndexProbeScale {

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10x")
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "/tmp/graft_probe_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(new java.io.File(s"$big/_BUILT").exists(),
      s"blow-up at $big missing — run graft.tools.ScaleProbe first")

    def docs(d: String) = graft.Tables.documents(spark, d).select("doc_id", "text")
    def embs(d: String) = graft.Tables.embeddings(spark, d).select("vec_id", "embedding")

    // fixed probe shard: every 25th doc of the 1× corpus, re-keyed as
    // a re-crawl (same shape as the dedup_*_probe queries) — built
    // from 1× EITHER axis-A index, so its fingerprint cost is a
    // constant across that axis
    def shardOf(d: String) = docs(d).where(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
    val shard1 = shardOf(base)
    val shard10 = shardOf(big) // ~10× rows: axis B
    val queries1 = embs(base).where(col("vec_id") < 64)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // embedding-space probe shard (dedup_semantic_probe shape): every
    // 25th vector re-keyed as a re-crawl
    def semShardOf(d: String) = embs(d).where(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
    val semShard1 = semShardOf(base)
    val semShard10 = semShardOf(big)

    // ---- build all six indexes once, outside the timed region ----
    if (!new java.io.File(s"$out/_BUILT").exists()) {
      graft.operators.MinHashIndex.write(docs(base), s"$out/mh1x")
      graft.operators.MinHashIndex.write(docs(big), s"$out/mh10x")
      graft.operators.ContentHashIndex.write(docs(base), s"$out/ch1x")
      graft.operators.ContentHashIndex.write(docs(big), s"$out/ch10x")
      // both IVF indexes share the SAME 64 trained centroids (train
      // once, assign forever — centroid count does not scale with the
      // corpus), so 10× is 10× vectors per posting list
      val seeds = embs(base).where(col("vec_id") < 64)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.operators.IvfIndex.write(embs(base), seeds, s"$out/ivf1x")
      graft.operators.IvfIndex.write(embs(big), seeds, s"$out/ivf10x")
      new java.io.FileOutputStream(s"$out/_BUILT").close()
    }
    // round-13 addition, own marker so a pre-existing round-12 build
    // dir gains the IVFADC tier without a rebuild of the rest: both
    // indexes share the 1× trained state (64 seed centroids + the 1×
    // seed residual codebook — train once, encode forever), so 10× is
    // 10× codes per inverted list
    if (!new java.io.File(s"$out/_BUILT_IVFPQ").exists()) {
      val seeds = embs(base).where(col("vec_id") < 64)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val cb = graft.operators.Similarity.ivfPqSeedCodebook(embs(base), seeds)
      graft.operators.IvfPqIndex.write(embs(base), seeds, cb, s"$out/ivfpq1x")
      graft.operators.IvfPqIndex.write(embs(big), seeds, cb, s"$out/ivfpq10x")
      new java.io.FileOutputStream(s"$out/_BUILT_IVFPQ").close()
    }

    // warmup: touch every index + input once
    Seq(s"$out/mh1x", s"$out/mh10x").foreach(p =>
      graft.operators.MinHashIndex.readAll(spark, p).count())
    Seq(s"$out/ch1x", s"$out/ch10x").foreach(p =>
      graft.operators.ContentHashIndex.readAll(spark, p).count())
    Seq(s"$out/ivf1x", s"$out/ivf10x").foreach(p =>
      graft.operators.IvfIndex.readAll(spark, p).count())
    Seq(s"$out/ivfpq1x", s"$out/ivfpq10x").foreach(p =>
      graft.operators.IvfPqIndex.readAll(spark, p).count())
    shard1.count(); shard10.count(); queries1.count()
    semShard1.count(); semShard10.count()

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def load(): Double = osBean.getSystemLoadAverage
    println(f"[probe] start load=${load()}%.2f base=$base big=$big")

    // each case: (label, thunk that runs the probe to completion)
    def mhProbe(idx: String, shard: DataFrame)(): Unit = {
      val r = graft.operators.MinHashIndex.probePairs(spark, idx, shard)
      r.write.format("noop").mode("overwrite").save()
      graft.operators.Storage.unpersistLocalCheckpoint(r)
    }
    def chProbe(idx: String, shard: DataFrame)(): Unit =
      graft.operators.ContentHashIndex.probeNew(spark, idx, shard)
        .write.format("noop").mode("overwrite").save()
    def ivfServe(idx: String)(): Unit =
      graft.operators.IvfIndex.serveAll(spark, idx, queries1, k = 5, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
    def ivfPqServe(idx: String)(): Unit =
      graft.operators.IvfPqIndex.serveAll(spark, idx, queries1, k = 5, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
    def semProbe(idx: String, shard: DataFrame)(): Unit = {
      val r = graft.operators.IvfIndex.probeSemantic(spark, idx, shard)
      r.write.format("noop").mode("overwrite").save()
      graft.operators.Storage.unpersistLocalCheckpoint(r)
    }

    val cases: Seq[(String, () => Unit)] = Seq(
      ("mh_probe_idx1x_shard1x", mhProbe(s"$out/mh1x", shard1) _),
      ("mh_probe_idx10x_shard1x", mhProbe(s"$out/mh10x", shard1) _),
      ("mh_probe_idx1x_shard10x", mhProbe(s"$out/mh1x", shard10) _),
      ("ch_probe_idx1x_shard1x", chProbe(s"$out/ch1x", shard1) _),
      ("ch_probe_idx10x_shard1x", chProbe(s"$out/ch10x", shard1) _),
      ("ch_probe_idx1x_shard10x", chProbe(s"$out/ch1x", shard10) _),
      ("ivf_serve_idx1x_q64", ivfServe(s"$out/ivf1x") _),
      ("ivf_serve_idx10x_q64", ivfServe(s"$out/ivf10x") _),
      ("ivfpq_serve_idx1x_q64", ivfPqServe(s"$out/ivfpq1x") _),
      ("ivfpq_serve_idx10x_q64", ivfPqServe(s"$out/ivfpq10x") _),
      ("sem_probe_idx1x_shard1x", semProbe(s"$out/ivf1x", semShard1) _),
      ("sem_probe_idx10x_shard1x", semProbe(s"$out/ivf10x", semShard1) _),
      ("sem_probe_idx1x_shard10x", semProbe(s"$out/ivf1x", semShard10) _))

    val picked =
      if (args.nonEmpty) cases.filter(c => args.exists(c._1.contains)) else cases
    val acc = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (pass <- 1 to 3; (name, run) <- picked) {
      val t0 = System.nanoTime()
      val t =
        try { run(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[probe] $name FAILED: $e"); Double.NaN
        }
      acc(name) = acc(name) :+ t
      println(f"[probe] pass $pass $name%-26s $t%7.2f s  (load ${load()}%.2f)")
    }
    println(f"[probe] end load=${load()}%.2f")
    def med(xs: List[Double]): Double = {
      val ok = xs.filterNot(_.isNaN).sorted
      if (ok.isEmpty) Double.NaN else ok(ok.size / 2)
    }
    picked.foreach { case (name, _) =>
      val xs = acc(name)
      println(f"""[probe-json] {"case":"$name","t":[${xs.map(x => f"$x%.2f").mkString(",")}],""" +
        f""""median":${med(xs)}%.2f,"failed_passes":${xs.count(_.isNaN)}}""")
    }
    spark.stop()
  }
}
