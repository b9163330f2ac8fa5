package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f), 1.0),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f), 0.0),
      (Array(1f, 1f, 0f), Array(1f, 0f, 0f), 1.0 / math.sqrt(2))).toDF("a", "b", "expected")
    df.select(VectorFunctions.cosine($"a", $"b").as("c"), $"expected").collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("scalarFrontier: exact byte accounting and a perfect float32 reference row") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sfDir)
    val n = emb.count()
    val rows = Similarity.scalarFrontier(emb, nQueries = 8, k = 5)
      .collect().map(r => r.getAs[String]("tier") -> r).toMap
    assert(rows.keySet ==
      Set("float32_brute", "sq8", "binary", "pq"), s"tiers: ${rows.keySet}")
    // the exactness ceiling: brute vs itself is recall 1.0, 40 hits
    assert(rows("float32_brute").getAs[Double]("recall_at_5") == 1.0)
    assert(rows("float32_brute").getAs[Long]("n_hits") == 40L)
    // 64-dim float corpus: 256 / 72 / 8 / 4 bytes per candidate, and
    // scanned_bytes is EXACTLY (n−1)·bytes_per_vec for every tier
    val wantBytes = Map("float32_brute" -> 256L, "sq8" -> 72L,
      "binary" -> 8L, "pq" -> 4L)
    wantBytes.foreach { case (t, b) =>
      assert(rows(t).getAs[Long]("bytes_per_vec") == b, s"$t bytes")
      assert(rows(t).getAs[Long]("scanned_bytes") == (n - 1) * b,
        s"$t scanned_bytes")
    }
    // compressed tiers can never out-recall the exact reference
    Seq("sq8", "binary", "pq").foreach(t =>
      assert(rows(t).getAs[Double]("recall_at_5") <= 1.0 &&
        rows(t).getAs[Long]("n_hits") <= 40L, t))
  }

  test("brute-force knn ranks nearest first, excludes self") {
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.99f, 0.1f), 0),
      (2L, Array(0f, 1f), 1),
      (3L, Array(-1f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.bruteForceKnn(vecs, nQueries = 1, k = 3)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("lsh knn returns identical scores for the pairs it finds") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val brute = Similarity.bruteForceKnn(e, nQueries = 4, k = 5)
      .select("query_id", "vec_id", "cos").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Similarity.lshKnn(e.limit(200), planes = 4, k = 5)
      .select("query_id", "vec_id", "cos").as[(Long, Long, Double)].collect()
    // where brute and lsh both scored a pair, the cosine must be bit-equal
    lsh.foreach { case (q, v, c) =>
      brute.get((q, v)).foreach(bc => assert(bc == c))
    }
    assert(lsh.nonEmpty)
  }

  test("binary-quantized hamming equals per-dimension sign disagreement") {
    // the packed 64-bits-per-long representation is an optimization;
    // its XOR+popcount hamming must equal the definitional count of
    // dimensions whose signs disagree
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val packedResult = Similarity.binaryKnn(e, nQueries = 4, k = 3)
      .select("query_id", "vec_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val q = e.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val direct = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("""aggregate(zip_with(qv, embedding,
                  (x, y) -> if((x > 0.0F) != (y > 0.0F), 1, 0)),
                0, (a, b) -> a + b)""").as("hamming"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("hamming").asc, col("vec_id").asc)
    val directTop = direct.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3).select("query_id", "vec_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(packedResult.nonEmpty)
    assert(packedResult == directTop,
      s"diff=${(packedResult -- directTop).take(3)} / ${(directTop -- packedResult).take(3)}")
  }

  test("retrievalEval: recall@k, MRR and hit counts against hand-computed truth") {
    val result = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "vec_id", "rank")
    val truth = Seq((1L, 11L, 1), (1L, 12L, 2), (1L, 99L, 3),
      (2L, 30L, 1), (2L, 31L, 2), (2L, 32L, 3))
      .toDF("query_id", "vec_id", "rank")
    val got = Similarity.retrievalEval(result, truth, k = 3)
      .as[(Long, Double, Double, Long)].collect().toSet
    // q1: truth items 11, 12 surface at ranks 2, 3 → recall 2/3,
    // MRR = 1/2 (best-placed hit); q2: nothing overlaps → all zero
    assert(got == Set((1L, 2.0 / 3, 0.5, 2L), (2L, 0.0, 0.0, 0L)))
  }

  test("retrievalEval reports zeros for a query the tier returned NO rows for") {
    // truth knows queries 1 and 3; the tier only answered query 1 —
    // query 3 must still appear (recall = mrr = hits = 0), not vanish
    // and make an aggregate gate look vacuously fine (ADVICE r11)
    val result = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "vec_id", "rank")
    val truth = Seq((1L, 10L, 1), (1L, 99L, 2), (3L, 30L, 1), (3L, 31L, 2))
      .toDF("query_id", "vec_id", "rank")
    val got = Similarity.retrievalEval(result, truth, k = 2)
      .as[(Long, Double, Double, Long)].collect().toSet
    assert(got == Set((1L, 0.5, 1.0, 1L), (3L, 0.0, 0.0, 0L)))
  }

  test("retrievalEval composes with real tiers: a tier evaluated against itself is perfect") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val tier = Similarity.sq8Knn(e, nQueries = 4, k = 3)
    val got = Similarity.retrievalEval(tier, tier, k = 3)
      .as[(Long, Double, Double, Long)].collect().toSet
    assert(got.nonEmpty && got.forall(r => r._2 == 1.0 && r._3 == 1.0 && r._4 == 3L))
  }

  test("ivfPqKnn matches an independent driver-side IVFADC replay") {
    // the composed IVF-PQ (residual-encoding) trajectory recomputed
    // from first principles in plain Scala over the collected corpus:
    // coarse argmax-cosine assignment (ties to the smaller c_id),
    // element-wise double residuals, seeded residual codebook, argmin
    // codes, per-(query, probed-centroid) LUTs, ADC over probed lists
    // only, top-k by (adc asc, vec_id asc). Every fold mirrors the
    // engine's left-to-right double order, so equality is exact.
    val rows = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect()
    val vecs = rows.toMap
    val dims = 64; val nC = 16; val nProbe = 4; val M = 4; val sub = 16
    val cbN = 16; val nQ = 8; val k = 5
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = (0L until nC).map(c => c -> vecs(c)).toMap
    def nearestCents(v: Seq[Float], n: Int): Seq[Long] =
      cents.toSeq.map { case (c, cv) => (c, cos(v, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(n).map(_._1)
    val asg = vecs.map { case (id, v) => id -> nearestCents(v, 1).head }
    def resid(v: Seq[Float], c: Seq[Float]): Array[Double] =
      Array.tabulate(dims)(i => v(i).toDouble - c(i).toDouble)
    val res = vecs.map { case (id, v) => id -> resid(v, cents(asg(id))) }
    val cb = (0 until cbN).map(kk => kk -> res(kk.toLong))
    def d2(m: Int, a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < sub) {
        val dx = a(m * sub + i) - b(m * sub + i); acc += dx * dx; i += 1
      }
      acc
    }
    val codes = res.map { case (id, r) =>
      id -> (0 until M).map(m =>
        cb.map { case (kk, cw) => (kk, d2(m, r, cw)) }
          .minBy { case (kk, d) => (d, kk) }._1)
    }
    val want = (0L until nQ).flatMap { q =>
      val probed = nearestCents(vecs(q), nProbe)
      val luts = probed.map { c =>
        val qr = resid(vecs(q), cents(c))
        c -> Array.tabulate(M)(m => cb.map { case (_, cw) => d2(m, qr, cw) }.toArray)
      }.toMap
      vecs.keys
        .filter(id => id != q && probed.contains(asg(id)))
        .map { id =>
          val lut = luts(asg(id))
          (id, (0 until M).map(m => lut(m)(codes(id)(m))).reduce(_ + _))
        }
        .toSeq.sortBy { case (id, d) => (d, id) }.take(k)
        .zipWithIndex.map { case ((id, d), i) => (q, id, i + 1, d) }
    }.toSet
    val got = Similarity.ivfPqKnn(
        spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
          .select($"vec_id", $"embedding"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"IVFADC diverged: got ${got.size} rows, want ${want.size}")
  }

  test("cosineNearDup only pairs within the same label block") {
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(1f, 0.01f), 0),
      (2L, Array(1f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.cosineNearDup(vecs, 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)))
  }

  test("banded-LSH near-dup reproduces the brute-force definition") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val lsh = Similarity.cosineNearDup(e, threshold = 0.35)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.cosineNearDupExact(e, threshold = 0.35)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "threshold too high — the test would be vacuous")
    assert(lsh == exact,
      s"missed=${(exact -- lsh).take(5)} spurious=${(lsh -- exact).take(5)}")
  }

  test("two-phase salted top-k is bit-identical to a single global window") {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val twoPhase = Similarity.bruteForceKnn(e, nQueries = 8, k = 5)
      .as[(Long, Long, Int, Double)].collect().toSet
    val queries = e.where($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val w = Window.partitionBy("query_id").orderBy($"cos".desc, $"vec_id".asc)
    val naive = e.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        VectorFunctions.cosine($"q", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 5)
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(twoPhase == naive)
  }

  test("lshKnn drops hot buckets above the cap — skew never goes quadratic") {
    // 80 identical vectors land in one bucket (> MAX_BUCKET = 64) and
    // must be dropped; a 3-vector cluster pointing the other way stays
    // under the cap and must still produce neighbors
    val hot = (0 until 80).map(i => (100L + i, Array(1f, 0f)))
    val ok = Seq(
      (0L, Array(-1f, 0.01f)), (1L, Array(-1f, 0.02f)), (2L, Array(-1f, 0f)))
    val df = (hot ++ ok).toDF("vec_id", "embedding")
    val out = Similarity.lshKnn(df, planes = 8, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(out.nonEmpty, "small cluster should still pair")
    assert(out.forall { case (q, v) => q < 100 && v < 100 },
      s"hot-bucket members leaked into candidates: ${out.filter(_._1 >= 100).take(3)}")
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val q = e.select($"vec_id".as("qid"), $"embedding".as("q")).limit(3)
    val both = e.crossJoin(q).select(
      VectorFunctions.cosine($"q", $"embedding").as("fast"),
      VectorFunctions.cosineHof($"q", $"embedding").as("ref"))
    val mismatches = both.filter($"fast" =!= $"ref").count()
    assert(mismatches == 0)
  }

  test("multi-probe lsh covers every query single-probe strands") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val single = Similarity.lshKnn(e, planes = 8, k = 5)
      .select("query_id").as[Long].collect().toSet
    val multi = Similarity.lshKnnMultiProbe(e, planes = 8, k = 5)
      .select("query_id").as[Long].collect().toSet
    assert(single.subsetOf(multi))
    val all = e.select("vec_id").as[Long].collect().toSet
    assert(multi == all,
      s"multi-probe should reach every vector; missing ${(all -- multi).take(5)}")
  }

  test("near-dup at production threshold: 8×16 banding finds seeded dups exactly") {
    // the low-threshold oracle query must run degenerate banding (4×64)
    // because cos 0.35 pairs share few sign bits; at a REAL near-dup
    // threshold the recommended config is more planes, fewer bands —
    // this pins that tuning story on seeded true near-dups
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]) = v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val bases = Seq.fill(20)(vec())
    val rows =
      bases.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) } ++
        bases.take(5).zipWithIndex.map { case (v, i) => (100L + i, jitter(v), 0) }
    val df = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.cosineNearDupExact(df, threshold = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDup(df, threshold = 0.9,
      planesPerBand = 8, bands = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.size >= 5, s"seeding failed: $exact")
    assert(lsh == exact, s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("ivf knn scores candidate pairs bit-identically to brute force") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val brute = Similarity.bruteForceKnn(e, nQueries = 4, k = 5)
      .select("query_id", "vec_id", "cos").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val ivf = Similarity.ivfKnn(e, nQueries = 4, k = 5)
      .select("query_id", "vec_id", "cos").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, v, c) =>
      brute.get((q, v)).foreach(bc => assert(bc == c))
    }
  }

  test("mmrRerank matches an independent driver-side greedy replay") {
    // the greedy MMR trajectory recomputed from first principles in
    // plain Scala over the collected corpus: exact top-20 shortlist,
    // first pick maximizes λ·rel, each later pick maximizes
    // λ·rel − μ·max-sim-to-picked; ties (score desc, id asc). Every
    // fold mirrors the engine's left-to-right double order.
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val nQ = 4; val k = 5; val m = 20; val lam = 0.7; val mu = 0.3
    val want = (0L until nQ).flatMap { q =>
      val cand = vecs.keys.filter(_ != q).map(id => (id, cos(vecs(q), vecs(id))))
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(m)
      var picked = List.empty[(Long, Int, Double)]
      val first = cand.map { case (id, rel) => (id, lam * rel) }
        .minBy { case (id, s) => (-s, id) }
      picked = List((first._1, 1, first._2))
      for (i <- 2 to k) {
        val sel = picked.map(_._1).toSet
        val choice = cand.filterNot(c => sel(c._1)).map { case (id, rel) =>
          (id, lam * rel - mu * picked.map(p => cos(vecs(id), vecs(p._1))).max)
        }.minBy { case (id, s) => (-s, id) }
        picked = picked :+ ((choice._1, i, choice._2))
      }
      picked.map { case (id, r, s) => (q, id, r, s) }
    }.toSet
    val res = Similarity.mmrRerank(e, nQueries = nQ, k = k, shortlist = m)
    val got = res.as[(Long, Long, Int, Double)].collect().toSet
    graft.operators.Storage.unpersistLocalCheckpoint(res)
    assert(want.nonEmpty && got == want,
      s"MMR diverged: got ${got.size} rows, want ${want.size}")
  }

  test("pruneHard keeps exactly the hardest half of every cluster with contiguous ranks") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val res = Similarity.pruneHard(e)
    val kept = res.as[(Long, Long, Int, Double)].collect()
    graft.operators.Storage.unpersistLocalCheckpoint(res)
    // semanticDedup trains the identical trajectory — its n_members
    // are the cluster sizes the keep rule divides
    val sizes = Similarity.semanticDedup(e).select($"c_id", $"n_members")
      .as[(Long, Long)].collect().toMap
    assert(kept.nonEmpty)
    kept.groupBy(_._1).foreach { case (c, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"cluster $c ranks not contiguous from 1")
      assert(rows.length.toLong == (sizes(c) + 1) / 2,
        s"cluster $c kept ${rows.length} of ${sizes(c)}")
    }
  }

  test("mmr over a full-probe ivf shortlist equals mmr over the exact shortlist") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val viaIvf = Similarity.mmrRerankWith(
      Similarity.ivfKnn(e, nQueries = 4, k = 20, nCentroids = 8, nProbe = 8)
        .select($"query_id", $"vec_id", $"cos".as("rel")), e)
    val viaBrute = Similarity.mmrRerank(e, nQueries = 4, k = 5)
    val a = viaIvf.as[(Long, Long, Int, Double)].collect().toSet
    val b = viaBrute.as[(Long, Long, Int, Double)].collect().toSet
    graft.operators.Storage.unpersistLocalCheckpoint(viaIvf)
    graft.operators.Storage.unpersistLocalCheckpoint(viaBrute)
    assert(a.nonEmpty && a == b,
      "full-probe IVF shortlist must feed the identical greedy trajectory")
  }

  test("mmr demotes a duplicate of the first pick below a diverse candidate") {
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.999f, 0.04f), 0),
      (2L, Array(0.999f, 0.04f), 0), // exact duplicate of 1 — brute rank 2
      (3L, Array(0.6f, 0.8f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrRerank(
      vecs, nQueries = 1, k = 3, shortlist = 3, lam = 0.3, mu = 0.7)
    val order = got.orderBy("mmr_rank").select("vec_id").as[Long].collect().toSeq
    graft.operators.Storage.unpersistLocalCheckpoint(got)
    assert(order == Seq(1L, 3L, 2L),
      s"diversity-blind order (brute would give 1,2,3): got $order")
  }

  test("mmr diversity eval: the diversified list has strictly lower intra-list similarity") {
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.999f, 0.04f), 0),
      (2L, Array(0.999f, 0.04f), 0), // exact duplicate of 1
      (3L, Array(0.6f, 0.8f), 0)).toDF("vec_id", "embedding", "label")
    val r = Similarity.mmrDiversityEval(
      vecs, nQueries = 1, k = 2, shortlist = 3, lam = 0.3, mu = 0.7)
    val (ilsTopk, ilsMmr) =
      r.select("ils_topk", "ils_mmr").as[(Double, Double)].collect().head
    graft.operators.Storage.unpersistLocalCheckpoint(r)
    // brute top-2 is the duplicate pair (ILS = 1 exactly); MMR swaps
    // the dup for the diverse candidate
    assert(ilsTopk == 1.0, s"dup-pair ILS should be exactly 1: $ilsTopk")
    assert(ilsMmr < 0.9 && ilsMmr < ilsTopk, s"($ilsTopk, $ilsMmr)")
  }

  test("filtered knn: only same-label rows surface, nearer cross-label rows are excluded") {
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.99f, 0.1f), 1),  // nearest overall — wrong label
      (2L, Array(0.9f, 0.3f), 0),   // nearest qualifying
      (3L, Array(0f, 1f), 0),
      (4L, Array(-1f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.filteredBruteKnn(vecs, nQueries = 1, k = 3)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(got.toSeq == Seq(2L, 3L)) // only the two label-0 rows qualify
  }

  test("filtered ivf at nProbe = nCentroids degenerates to the exact pre-filter form") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val exact = Similarity.filteredBruteKnn(e, nQueries = 4, k = 5)
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().sorted
    val full = Similarity.filteredIvfKnn(
      e, nQueries = 4, k = 5, nCentroids = 8, nProbe = 8)
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().sorted
    assert(full.nonEmpty)
    assert(full.toSeq == exact.toSeq)
  }

  test("filtered ivf with a vacuous predicate equals unfiltered ivf") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .withColumn("label", lit(7)) // every row qualifies
    val filtered = Similarity.filteredIvfKnn(e, nQueries = 4, k = 5)
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().sorted
    val plain = Similarity.ivfKnn(e, nQueries = 4, k = 5)
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().sorted
    assert(filtered.nonEmpty)
    assert(filtered.toSeq == plain.toSeq)
  }

  test("filtered ivf results are a subset of the probed lists' same-label rows") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    Similarity.filteredIvfKnn(e, nQueries = 8, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .foreach { case (q, v) => assert(labels(v) == labels(q), s"($q,$v)") }
  }

  test("codegen'd SquaredL2 is bit-identical to the HOF formulation") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val hof = expr(
      """aggregate(zip_with(a, b,
           (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                     (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
           0.0D, (acc, t) -> acc + t)""")
    val pairs = e.select($"vec_id", $"embedding".as("a"))
      .crossJoin(e.limit(3).select($"embedding".as("b")))
    val diff = pairs
      .select(graft.functions.SquaredL2($"a", $"b").as("fast"), hof.as("ref"))
      .filter($"fast" =!= $"ref").count()
    assert(diff == 0)
  }

  test("kmeans: deterministic float32 centroids; zero iterations returns the seeds") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = Similarity.kmeans(e, k = 4, iters = 0)
      .as[(Long, Seq[Float])].collect().toMap
    val seedRef = e.where($"vec_id" < 4)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(seeds == seedRef)
    def run() = Similarity.kmeans(e, k = 4, iters = 2)
      .as[(Long, Seq[Float])].collect().toMap
    val a = run(); val b = run()
    assert(a == b, "trainer is not deterministic")
    assert(a.nonEmpty && a.values.forall(_.length == seedRef.values.head.length))
    // training moved at least one centroid off its seed
    assert(a != seedRef)
  }

  test("pqKnnTrained rejects a mis-sized subspace grid loudly") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val ex = intercept[Exception] {
      Similarity.pqKnnTrained(e, subDim = 20).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("pqKnnTrained")), ex.toString)
  }

  test("codegen'd band signatures are bit-identical to the HOF reference") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val both = e.select(
      VectorFunctions.hyperplaneBandSignatures($"embedding", 2, 32).as("fast"),
      VectorFunctions.hyperplaneBandSignaturesHof($"embedding", 2, 32).as("ref"))
    val mismatches = both.filter($"fast" =!= $"ref").count()
    assert(mismatches == 0)
  }

  test("semantic dedup partitions the corpus: members sum to n, survivors belong") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val n = e.count()
    val got = Similarity.semanticDedup(e, k = 8, iters = 2)
      .select("c_id", "keep_vec_id", "n_members")
      .as[(Long, Long, Long)].collect()
    // every vector lands in exactly one cluster, one survivor each
    assert(got.map(_._3).sum == n)
    assert(got.map(_._1).distinct.length == got.length)
    // the survivor's own assignment must be its cluster: re-derive the
    // assignment and check membership
    val centroids = Similarity.kmeans(e, k = 8, iters = 2)
    val assign = e.join(org.apache.spark.sql.functions.broadcast(centroids))
      .select($"vec_id", $"c_id",
        graft.functions.CosineSimilarity($"embedding", $"c_vec").as("cos"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.functions.max_by($"c_id",
        org.apache.spark.sql.functions.struct($"cos", (-$"c_id").cast("double"))).as("c_id"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (c, keep, _) =>
      assert(assign(keep) == c, s"survivor $keep not in cluster $c")
    }
  }

  test("kmeans/semanticDedup are storage-flat: only the result block stays") {
    // same contract as Bpe.learn / connectedComponents: every training
    // round, the checkpointed input, and the trainer output (once the
    // consumer releases it) must unpersist — a long-lived session that
    // trains repeatedly may not accumulate blocks
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val before = spark.sparkContext.getPersistentRDDs.size
    val c = Similarity.kmeans(e, k = 4, iters = 2)
    c.count()
    graft.operators.Storage.unpersistLocalCheckpoint(c)
    val afterKmeans = spark.sparkContext.getPersistentRDDs.size
    assert(afterKmeans <= before,
      s"kmeans leaked blocks: $before before, $afterKmeans after release")
    val sd = Similarity.semanticDedup(e, k = 4, iters = 2)
    sd.count()
    val afterSd = spark.sparkContext.getPersistentRDDs.size
    assert(afterSd <= before + 1,
      s"semanticDedup retained more than its result: $before before, $afterSd after")
    graft.operators.Storage.unpersistLocalCheckpoint(sd)
  }

  test("ivfPqKnnTrained: rank law holds and the trainer is storage-flat") {
    // the full trajectory (coarse Lloyd + residual-codebook Lloyd +
    // IVFADC serve) is pinned bit-exact by the knn_ivfpq_trained
    // oracle; this spec pins the operator-side contracts the oracle
    // can't see — per-query rank law (1..k dense, self excluded,
    // adc_dist non-decreasing) and the trainer storage discipline
    // (every round, the sliced relation, and the trained state
    // release; only the answer block stays).
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Similarity.ivfPqKnnTrained(e, nQueries = 4, k = 5)
    val rows = out.as[(Long, Long, Int, Double)].collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"ivfPqKnnTrained retained more than its result: $before before, $after after")
    graft.operators.Storage.unpersistLocalCheckpoint(out)
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to sorted.size).toSeq,
        s"query $q ranks not dense: ${sorted.map(_._3).toSeq}")
      assert(sorted.forall(_._2 != q), s"query $q ranked itself")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq,
        s"query $q adc_dist not non-decreasing")
    }
  }

  test("IVF index persists to parquet and serves hash-identically to in-memory") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    graft.operators.IvfIndex.write(e, seeds, path)
    // inverted lists are literal directories — the layout partition
    // pruning needs at 100 TB (base generation 0 under the LSM layout)
    val dirs = new java.io.File(s"$path/base/0").listFiles()
    assert(dirs != null && dirs.exists(_.getName.startsWith("c_id=")),
      "base segment is not partitioned by c_id on disk")
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val got = graft.operators.IvfIndex.serveAll(spark, path, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    val want = Similarity.ivfKnnWith(e, seeds, nQueries = 4, k = 5, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    // bit-identical including the cosine doubles: float32 embeddings
    // round-trip parquet exactly
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("IVF as-of serve replays the historical snapshot exactly; gc sets the horizon loudly") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_asof_spec").toString
    graft.operators.IvfIndex.write(e.where($"vec_id" % 3 =!= 2), seeds, p)
    graft.operators.IvfIndex.appendEpoch(spark, p, 0L,
      e.where($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0))
    graft.operators.IvfIndex.appendEpoch(spark, p, 1L,
      e.where($"vec_id" % 3 === 2 && $"vec_id" % 2 =!= 0))
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int, Double)].collect().toSet
    val live = rows(graft.operators.IvfIndex.serveAll(spark, p, queries))
    val at0 = rows(graft.operators.IvfIndex.serveAsOf(spark, p, 0L, queries))
    // the as-of snapshot == in-memory serve over exactly the prefix rows
    val prefix = e.where($"vec_id" % 3 =!= 2 || $"vec_id" % 2 === 0)
    val want = rows(Similarity.ivfServe(
      Similarity.ivfAssign(prefix, seeds), seeds, queries, k = 5, nProbe = 4))
    assert(at0 == want && at0.nonEmpty, "as-of snapshot diverged from the prefix serve")
    assert(rows(graft.operators.IvfIndex.serveAsOf(spark, p, 1L, queries)) == live)
    // compact + retainGens = 1: pre-fold history stays serveable
    graft.operators.IvfIndex.compact(spark, p)
    graft.operators.IvfIndex.gc(spark, p, retainGens = 1)
    assert(rows(graft.operators.IvfIndex.serveAsOf(spark, p, 0L, queries)) == at0,
      "retained generation lost the pre-fold snapshot")
    // horizon: current generation only -> the pre-fold epoch fails loudly
    graft.operators.IvfIndex.gc(spark, p)
    val err = intercept[IllegalArgumentException](
      graft.operators.IvfIndex.serveAsOf(spark, p, 0L, queries).collect())
    assert(err.getMessage.contains("horizon"))
    assert(rows(graft.operators.IvfIndex.serveAsOf(spark, p, 1L, queries)) == live,
      "the live snapshot must stay serveable after the horizon moves")
  }

  test("IVF delta segments: incremental append serves exactly, replays and torn writes are no-ops") {
    // the ingest-time half: build the base index from part of the
    // corpus, append the rest as two epoch delta segments against the
    // SAME trained centroids — serveAll must equal serving an index
    // built from the full corpus with those centroids (assignment is
    // a pure function of (vector, centroids), so segment layout can't
    // change results). Then the exactly-once cases: a replayed epoch
    // appends nothing, and a TORN segment (files written, no marker)
    // is invisible until its replay commits it.
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    def served(p: String) =
      graft.operators.IvfIndex.serveAll(spark, p, queries, k = 5, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val inc = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivf_full").toString
    graft.operators.IvfIndex.write(e.where($"vec_id" % 3 === 0), seeds, inc)
    graft.operators.IvfIndex.write(e, seeds, full)
    assert(graft.operators.IvfIndex.appendEpoch(spark, inc, 0L,
      e.where($"vec_id" % 3 === 1).select($"vec_id", $"embedding")))
    assert(graft.operators.IvfIndex.appendEpoch(spark, inc, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding")))
    val want = served(full)
    assert(served(inc) == want && want.nonEmpty,
      "incremental index diverges from the full build")
    // replayed epoch: already committed -> skipped, results unchanged
    assert(!graft.operators.IvfIndex.appendEpoch(spark, inc, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding")))
    assert(served(inc) == want, "replayed epoch changed the index")
    // torn segment: data written for epoch 2, marker lost -> invisible
    val centroids = spark.read.parquet(s"$inc/centroids")
    graft.sources.FileSources.writePartitionedParquet(
      graft.operators.Similarity.ivfAssign(
        e.where($"vec_id" < 2).select($"vec_id", $"embedding"), centroids),
      s"$inc/deltas/2", partitionCols = Seq("c_id"))
    assert(served(inc) == want, "torn (uncommitted) segment leaked into serving")
    assert(graft.operators.IvfIndex.committedEpochs(spark, inc) == Seq(0L, 1L))
    // compaction folds deltas into a NEW base generation and preserves
    // results; delta data survives until the explicit gc (in-flight
    // readers keep their snapshot), then is retired while the epoch
    // markers stay (the replay guard)
    graft.operators.IvfIndex.compact(spark, inc)
    assert(served(inc) == want, "compaction changed serving results")
    graft.operators.IvfIndex.gc(spark, inc)
    assert(served(inc) == want, "gc changed serving results")
    // the FOLDED segments are retired; the torn uncommitted deltas/2
    // data survives on purpose (it is invisible, and only its replay
    // may clobber it)
    assert(!new java.io.File(s"$inc/deltas/0").exists &&
      !new java.io.File(s"$inc/deltas/1").exists,
      "folded delta data not retired by gc")
    assert(graft.operators.IvfIndex.committedEpochs(spark, inc) == Seq(0L, 1L),
      "epoch commit markers must outlive compaction (replay guard)")
    // a replay of a long-compacted epoch is still a no-op
    assert(!graft.operators.IvfIndex.appendEpoch(spark, inc, 0L,
      e.where($"vec_id" % 3 === 1).select($"vec_id", $"embedding")))
    assert(served(inc) == want, "replay of a compacted epoch changed the index")
  }

  test("semantic admission probe equals the batch same-cluster pair law over base \u222a deltas") {
    // SemDeDup at ingest: probeSemantic(shard) must emit exactly the
    // same-cluster cosine pairs a batch job over (index \u222a shard)
    // with the same fixed centroids emits, restricted to pairs
    // touching the shard — with the index read as its live base \u222a
    // delta snapshot. Re-keyed copies of indexed vectors guarantee
    // non-vacuous cross pairs (a copy lands in its original's list).
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_semprobe").toString
    graft.operators.IvfIndex.write(
      e.where($"vec_id" % 3 === 0), seeds, path)
    graft.operators.IvfIndex.appendEpoch(spark, path, 0L,
      e.where($"vec_id" % 3 === 1))
    val shardSrc = e.where($"vec_id" % 6 === 0 || $"vec_id" % 3 === 2)
    val shard = shardSrc
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val got = graft.operators.IvfIndex.probeSemantic(
      spark, path, shard, threshold = 0.9)
    try {
      val indexed = e.where($"vec_id" % 3 =!= 2)
      val assigned = Similarity.ivfAssign(indexed.unionByName(shard), seeds)
      val l = assigned.select($"c_id", $"vec_id".as("a_id"),
        $"embedding".as("a_v"))
      val r = assigned.select($"c_id", $"vec_id".as("b_id"),
        $"embedding".as("b_v"))
      val want = l.join(r, Seq("c_id")).where($"a_id" < $"b_id")
        .where($"a_id" >= 1000000L || $"b_id" >= 1000000L)
        .select($"a_id", $"b_id",
          VectorFunctions.cosine($"a_v", $"b_v").as("cos"))
        .where($"cos" >= 0.9)
        .as[(Long, Long, Double)].collect().toSet
      val gotSet = got.as[(Long, Long, Double)].collect().toSet
      assert(gotSet == want && want.nonEmpty,
        s"probe diverged: ${gotSet.size} vs ${want.size}")
      // every re-keyed copy of an indexed vector surfaces its original
      val copies = shardSrc.where($"vec_id" % 6 === 0)
        .select($"vec_id").as[Long].collect()
      copies.foreach(id => assert(
        gotSet.exists { case (a, b, _) => a == id && b == id + 1000000L },
        s"copy of indexed vector $id not flagged"))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(got)
  }

  test("semantic probe megacluster: a saturated inverted list stops flagging instead of owning the probe") {
    // the skew cap every other candidate-generation path already has:
    // with ONE centroid every vector lands in one inverted list; a
    // maxList below the index size saturates that list — the probe
    // completes and emits NOTHING (explicit degradation, never a
    // partial pair set), while the default cap reproduces the full
    // pair law (so the dedup_semantic_probe oracle is unaffected
    // below the cap).
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val oneSeed = e.where($"vec_id" === 0)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_mega").toString
    graft.operators.IvfIndex.write(e, oneSeed, path)
    val shard = e.where($"vec_id" % 5 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val capped = graft.operators.IvfIndex.probeSemantic(
      spark, path, shard, threshold = 0.9, maxList = 8)
    try assert(capped.count() == 0,
      "a saturated megacluster list must stop flagging entirely")
    finally graft.operators.Storage.unpersistLocalCheckpoint(capped)
    val full = graft.operators.IvfIndex.probeSemantic(
      spark, path, shard, threshold = 0.9)
    try {
      // below the cap the declared pair law holds verbatim: every
      // re-keyed exact copy surfaces its original
      val gotSet = full.as[(Long, Long, Double)].collect().toSet
      val copies = e.where($"vec_id" % 5 === 0).select($"vec_id").as[Long].collect()
      assert(gotSet.nonEmpty)
      copies.foreach(id => assert(
        gotSet.exists { case (a, b, _) => a == id && b == id + 1000000L },
        s"copy of indexed vector $id not flagged below the cap"))
    } finally graft.operators.Storage.unpersistLocalCheckpoint(full)
  }

  test("IVF compaction race: a reader between base-rewrite and marker swap double-counts nothing") {
    // the generation-pointer protocol's whole job: compact writes
    // base/<gen+1> FIRST and its gens/ marker second. A serve
    // interleaved between those two steps must resolve the OLD
    // generation + deltas (the new base is invisible until the marker
    // lands) — the pre-pointer layout rewrote the base in place and a
    // reader in that window saw every delta vector TWICE.
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val seeds = e.where($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_race").toString
    graft.operators.IvfIndex.write(e.where($"vec_id" % 2 === 0), seeds, p)
    graft.operators.IvfIndex.appendEpoch(spark, p, 0L,
      e.where($"vec_id" % 2 === 1).select($"vec_id", $"embedding"))
    def served() =
      graft.operators.IvfIndex.serveAll(spark, p, queries, k = 5, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = served()
    // compact STEP 1 only: write the merged view to base/1, NO marker
    graft.operators.IvfIndex.writeSegment(
      graft.operators.IvfIndex.readAll(spark, p), s"$p/base/1")
    assert(served() == want,
      "reader between compact's base-rewrite and marker swap diverged " +
        "(double count or torn base)")
    // vector multiset sanity: still exactly one copy of every vector
    val n = graft.operators.IvfIndex.readAll(spark, p)
      .groupBy($"vec_id").count().where($"count" > 1).count()
    assert(n == 0, "a vector appears in more than one live segment")
    // STEP 2: the marker lands -> the new generation serves, deltas fold
    graft.operators.LsmSegments.writeGenMarker(spark, p, 1L, 0L)
    assert(served() == want, "generation swap changed serving results")
    val n2 = graft.operators.IvfIndex.readAll(spark, p)
      .groupBy($"vec_id").count().where($"count" > 1).count()
    assert(n2 == 0, "post-swap snapshot double-counts a vector")
    graft.operators.IvfIndex.gc(spark, p)
    assert(served() == want, "gc changed serving results")
    assert(!new java.io.File(s"$p/base/0").exists,
      "superseded base generation not retired by gc")
  }

  test("SQ8 delta segments: incremental quantized ingest serves exactly; replay/torn/compact contracts hold") {
    // the SQ8 tier of the LSM ingest protocol: quantization is a pure
    // per-vector function, so serveAll over any base/delta split must
    // be hash-identical to sq8Knn over the union — plus the same
    // exactly-once cases as the IVF spec (replayed epoch is a no-op,
    // torn segment invisible, compact+gc preserve results).
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val p = java.nio.file.Files.createTempDirectory("graft_sq8_inc").toString
    graft.operators.Sq8Index.write(
      e.where($"vec_id" % 3 === 0).select($"vec_id", $"embedding"), p)
    graft.operators.Sq8Index.appendEpoch(spark, p, 0L,
      e.where($"vec_id" % 3 === 1).select($"vec_id", $"embedding"))
    graft.operators.Sq8Index.appendEpoch(spark, p, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding"))
    def served() =
      graft.operators.Sq8Index.serveAll(spark, p, queries, k = 5)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = Similarity.sq8Knn(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served() == want && want.nonEmpty,
      "incremental SQ8 index diverges from the in-memory operator")
    // replayed epoch: no-op
    assert(!graft.operators.Sq8Index.appendEpoch(spark, p, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding")))
    assert(served() == want, "replayed epoch changed the SQ8 index")
    // torn segment: data written, no marker -> invisible
    graft.operators.Similarity.sq8Quantize(
      e.where($"vec_id" < 2).select($"vec_id", $"embedding"))
      .write.mode("overwrite").parquet(s"$p/deltas/2")
    assert(served() == want, "torn (uncommitted) SQ8 segment leaked into serving")
    graft.operators.Sq8Index.compact(spark, p)
    graft.operators.Sq8Index.gc(spark, p)
    assert(served() == want, "SQ8 compaction/gc changed serving results")
    assert(graft.operators.Sq8Index.appendEpoch(spark, p, 2L,
      e.where($"vec_id" < 0).select($"vec_id", $"embedding")),
      "the torn epoch must be committable by its replay after gc")
  }

  test("binary delta segments: incremental packed ingest serves exactly; replay/compact contracts hold") {
    // the binary tier: packing is a pure per-vector function, so
    // serveAll over any base/delta split must be hash-identical to
    // binaryKnn over the union, with the same replay/compact contracts.
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val queries = graft.operators.Similarity.binarySignatures(
      e.where($"vec_id" < 4))
      .select($"vec_id".as("query_id"), $"sig".as("qsig"))
    val p = java.nio.file.Files.createTempDirectory("graft_bin_inc").toString
    graft.operators.BinaryIndex.write(
      e.where($"vec_id" % 3 === 0).select($"vec_id", $"embedding"), p)
    graft.operators.BinaryIndex.appendEpoch(spark, p, 0L,
      e.where($"vec_id" % 3 === 1).select($"vec_id", $"embedding"))
    graft.operators.BinaryIndex.appendEpoch(spark, p, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding"))
    def served() =
      graft.operators.BinaryIndex.serveAll(spark, p, queries, k = 5)
        .as[(Long, Long, Int, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = Similarity.binaryKnn(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served() == want && want.nonEmpty,
      "incremental binary index diverges from the in-memory operator")
    assert(!graft.operators.BinaryIndex.appendEpoch(spark, p, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding")))
    assert(served() == want, "replayed epoch changed the binary index")
    graft.operators.BinaryIndex.compact(spark, p)
    graft.operators.BinaryIndex.gc(spark, p)
    assert(served() == want, "binary compaction/gc changed serving results")
  }

  test("PQ delta segments: fixed-codebook incremental encode serves exactly; replay/torn/compact contracts hold") {
    // the PQ tier: the codebook is persisted ONCE and every delta
    // epoch encodes against it — serveAll must equal pqKnn over the
    // union with that codebook, bit-for-bit (int codes + float32
    // codebook round-trip parquet exactly; ADC LUTs are rebuilt from
    // the stored codebook at serve time).
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val cb = e.where($"vec_id" < 16)
      .select($"vec_id".cast("int").as("cw_k"), $"embedding".as("cw"))
    val queries = e.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val p = java.nio.file.Files.createTempDirectory("graft_pq_inc").toString
    graft.operators.PqIndex.write(
      e.where($"vec_id" % 3 === 0).select($"vec_id", $"embedding"), cb, p)
    graft.operators.PqIndex.appendEpoch(spark, p, 0L,
      e.where($"vec_id" % 3 === 1).select($"vec_id", $"embedding"))
    graft.operators.PqIndex.appendEpoch(spark, p, 1L,
      e.where($"vec_id" % 3 === 2).select($"vec_id", $"embedding"))
    def served() =
      graft.operators.PqIndex.serveAll(spark, p, queries, k = 5)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = Similarity.pqKnn(e, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served() == want && want.nonEmpty,
      "incremental PQ index diverges from the in-memory operator")
    assert(!graft.operators.PqIndex.appendEpoch(spark, p, 0L,
      e.where($"vec_id" % 3 === 1).select($"vec_id", $"embedding")))
    assert(served() == want, "replayed epoch changed the PQ index")
    graft.operators.PqIndex.compact(spark, p)
    graft.operators.PqIndex.gc(spark, p)
    assert(served() == want, "PQ compaction/gc changed serving results")
  }

  test("MaxSim delta segments: incremental bag ingest serves exactly; replay/torn/compact contracts hold") {
    // the late-interaction tier: bagging is a pure per-document
    // function (epochs split at doc granularity — the document-atomic
    // ingest contract), so serveAll over any base/delta split must be
    // hash-identical to maxSimKnn over the union, with the standard
    // exactly-once battery.
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val docOf = floor($"vec_id" / 4).cast("long")
    val queries = graft.operators.Similarity.tokenBags(e, 4)
      .where($"doc_id" < 4)
      .select($"doc_id".as("query_id"), $"toks".as("qtoks"))
    val p = java.nio.file.Files.createTempDirectory("graft_maxsim_inc").toString
    graft.operators.MaxSimIndex.write(e.where(docOf % 3 === 0), p, tokensPerDoc = 4)
    graft.operators.MaxSimIndex.appendEpoch(spark, p, 0L, e.where(docOf % 3 === 1))
    graft.operators.MaxSimIndex.appendEpoch(spark, p, 1L, e.where(docOf % 3 === 2))
    def served() =
      graft.operators.MaxSimIndex.serveAll(spark, p, queries, k = 5)
        .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val want = Similarity.maxSimKnn(e, tokensPerDoc = 4, nQueries = 4, k = 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(served() == want && want.nonEmpty,
      "incremental MaxSim index diverges from the in-memory operator")
    // document-atomic contract: no doc_id appears in two live segments
    val dup = graft.operators.MaxSimIndex.readAll(spark, p)
      .groupBy($"doc_id").count().where($"count" > 1).count()
    assert(dup == 0, "a document's bag appears in more than one live segment")
    // replayed epoch: no-op
    assert(!graft.operators.MaxSimIndex.appendEpoch(spark, p, 1L,
      e.where(docOf % 3 === 2)))
    assert(served() == want, "replayed epoch changed the MaxSim index")
    // torn segment: data written, no marker -> invisible
    graft.operators.Similarity.tokenBags(e.where($"vec_id" < 4), 4)
      .write.mode("overwrite").parquet(s"$p/deltas/2")
    assert(served() == want, "torn (uncommitted) MaxSim segment leaked into serving")
    graft.operators.MaxSimIndex.compact(spark, p)
    graft.operators.MaxSimIndex.gc(spark, p)
    assert(served() == want, "MaxSim compaction/gc changed serving results")
    assert(graft.operators.MaxSimIndex.appendEpoch(spark, p, 2L,
      e.where($"vec_id" < 0)),
      "the torn epoch must be committable by its replay after gc")
    assert(served() == want, "an empty committed epoch broke MaxSim serving")
  }

  test("ivfFrontier: recall and scan fraction are monotone in nProbe; full probe reaches brute recall") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val rows = Similarity
      .ivfFrontier(e, nQueries = 4, k = 5, probes = Seq(1, 4, 16))
      .select($"n_probe", $"recall_at_5", $"scan_frac")
      .as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(1, 4, 16))
    assert(rows.sliding(2).forall { case Seq(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 }, s"frontier not monotone: $rows")
    assert(rows.forall(r => r._3 > 0.0 && r._3 <= 1.0))
    // probing every one of the 16 lists IS brute force: recall = 1
    assert(rows.last._2 == 1.0, s"full probe must reach brute recall: $rows")
  }

  test("filteredIvfFrontier: monotone in nProbe, qualifying ≤ scanned, full probe reaches filtered-exact recall") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val rows = Similarity
      .filteredIvfFrontier(e, nQueries = 4, k = 5, probes = Seq(1, 4, 16))
      .select($"n_probe", $"recall_at_5", $"scan_frac",
        $"qualifying_rows", $"scanned_rows")
      .as[(Int, Double, Double, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(1, 4, 16))
    assert(rows.sliding(2).forall { case Seq(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 }, s"filtered frontier not monotone: $rows")
    // the scorer can never score more rows than the scan reads
    assert(rows.forall(r => r._4 <= r._5 && r._4 > 0L), s"qualifying > scanned: $rows")
    // probing every one of the 16 lists IS the exact pre-filter form
    assert(rows.last._2 == 1.0, s"full probe must reach filtered-exact recall: $rows")
  }

  test("a frontier sweep equals its settings evaluated one at a time") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val (nq, k) = (4, 5)
    val n = e.count()
    val centroids = e.where($"vec_id" < 16).select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val queries = e.where($"vec_id" < nq)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"label".as("qlabel"))
    def hits(ranked: org.apache.spark.sql.DataFrame, truth: org.apache.spark.sql.DataFrame): Long =
      Similarity.retrievalEval(ranked, truth, k).agg(sum($"n_hits")).as[Long].head()
    // a query's own vector sits in its nearest list, so a probed scan
    // reads every member a k = ∞ serve returns plus the query itself
    def served(assigned: org.apache.spark.sql.DataFrame, p: Int, filtered: Boolean) =
      Similarity.ivfServe(assigned, centroids, queries, Int.MaxValue, p, filtered).count() + nq
    val assigned = Similarity.ivfAssign(e, centroids)
    val fAssigned = Similarity.filteredIvfAssign(e, centroids)
    val truth = Similarity.bruteForceKnn(e, nq, k)
    val fTruth = Similarity.filteredBruteKnn(e, nq, k)
    val probes = Seq(3, 1, 16)
    val ivf = Similarity.ivfFrontier(e, nq, k, probes = probes)
      .as[(Int, Double, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val filtered = Similarity.filteredIvfFrontier(e, nq, k, probes = probes)
      .as[(Int, Double, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(ivf.keySet == probes.toSet && filtered.keySet == probes.toSet)
    probes.foreach { p =>
      val h = hits(Similarity.ivfServe(assigned, centroids, queries, k, p), truth)
      val scanned = served(assigned, p, filtered = false)
      assert(ivf(p) == ((p, h.toDouble / (nq * k), h, scanned, scanned.toDouble / (nq * n))),
        s"ivfFrontier n_probe = $p")
      val fh = hits(Similarity.ivfServe(fAssigned, centroids, queries, k, p, filtered = true), fTruth)
      assert(filtered(p) == ((p, fh.toDouble / (nq * k), fh, scanned,
        served(fAssigned, p, filtered = true), scanned.toDouble / (nq * n))),
        s"filteredIvfFrontier n_probe = $p")
    }
    val shortlists = Seq(40, 10)
    val rescore = Similarity.ivfPqRescoreFrontier(e, nq, k, shortlists = shortlists)
      .as[(Int, Double, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rescore.keySet == shortlists.toSet)
    shortlists.foreach { s =>
      val h = hits(Similarity.ivfPqKnnRescore(e, nq, k, shortlist = s), truth)
      assert(rescore(s) == ((s, h.toDouble / (nq * k), h,
        Similarity.ivfPqKnn(e, nq, s).count())), s"ivfPqRescoreFrontier shortlist = $s")
    }
  }

  test("a frontier sweep launches the same jobs for one setting as for four") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val jobs = (probes: Seq[Int]) => JobCount(spark)(
      Similarity.ivfFrontier(e, nQueries = 4, k = 5, probes = probes))
    assert(jobs(Seq(1)) == jobs(Seq(1, 2, 4, 8)))
  }

  test("a frontier rejects empty sweep settings, naming the argument") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    assert(intercept[IllegalArgumentException](
      Similarity.ivfFrontier(e, probes = Nil)).getMessage.contains("probes"))
    assert(intercept[IllegalArgumentException](
      Similarity.ivfPqRescoreFrontier(e, shortlists = Nil)).getMessage.contains("shortlists"))
  }

  test("a frontier rejects a repeated sweep setting, naming the argument") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    assert(intercept[IllegalArgumentException](
      Similarity.filteredIvfFrontier(e, probes = Seq(1, 4, 1))).getMessage.contains("probes"))
    assert(intercept[IllegalArgumentException](
      Similarity.ivfPqRescoreFrontier(e, shortlists = Seq(10, 10)))
      .getMessage.contains("shortlists"))
  }

  test("a frontier rejects a non-positive sweep setting, naming the argument") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    assert(intercept[IllegalArgumentException](
      Similarity.ivfFrontier(e, probes = Seq(0, 2))).getMessage.contains("probes"))
    assert(intercept[IllegalArgumentException](
      Similarity.ivfPqRescoreFrontier(e, shortlists = Seq(10, -5)))
      .getMessage.contains("shortlists"))
  }

  test("sq8 dequantized dot stays within the per-dim half-step error bound") {
    // max-abs symmetric SQ8 rounds each coordinate by at most half a
    // quantization step (scale/2 = mx/254), so the de-quantized dot
    // against ANY query q is within (mx/254)·Σ|qᵢ| of the exact dot —
    // the bound every scored pair must satisfy. k = corpus−1 makes the
    // check exhaustive over all (query, candidate) pairs.
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(j => (math.sin(i * 8.0 + j) * (1 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.sq8Knn(df, nQueries = 4, k = 19, salts = 4)
      .as[(Long, Long, Int, Double)].collect()
    assert(got.length == 4 * 19, "every non-self pair must be ranked")
    val m = vecs.toMap
    got.foreach { case (q, v, _, dq) =>
      val qv = m(q).map(_.toDouble)
      val cv = m(v).map(_.toDouble)
      val exact = qv.zip(cv).map { case (a, b) => a * b }.sum
      val bound = (cv.map(math.abs).max / 254.0) * qv.map(math.abs).sum + 1e-9
      assert(math.abs(dq - exact) <= bound,
        s"pair ($q,$v): sq8 dot $dq vs exact $exact exceeds bound $bound")
    }
  }

  test("sq8 ranks an exact int8-representable duplicate first") {
    // corpus vector 10 is bit-representable after quantization of a
    // scaled copy of query 0's direction — SQ8 must rank it top-1
    val base = Array.tabulate(8)(j => (j - 3.5).toFloat) // exact halves
    val corpus = (1L until 10L).map { i =>
      (i, Array.tabulate(8)(j => (math.cos(i * 8.0 + j) * 0.3).toFloat))
    } :+ (10L, base.map(x => x * 2f))
    val df = ((0L, base) +: corpus).toDF("vec_id", "embedding")
    val top = Similarity.sq8Knn(df, nQueries = 1, k = 1, salts = 4)
      .as[(Long, Long, Int, Double)].collect()
    assert(top.length == 1 && top.head._2 == 10L,
      s"scaled copy must rank first, got ${top.toSeq}")
  }

  test("hybridRrf equals a driver-side replay of both rankings + fusion") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("the", "cat", "dog", "sat", "ran", "mat", "sun", "sky")
    val rows = (0L until 40L).map { i =>
      val toks = rnd.shuffle(vocab).take(2 + rnd.nextInt(5)).toArray
      val emb = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i, toks, emb)
    }
    val lex = rows.map(r => (r._1, r._2)).toDF("doc_id", "toks")
    val emb = rows.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
    val m = 6; val k = 4; val nQ = 3; val rrfK = 60
    // driver replay with the same total orders
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (j <- ad.indices) { dot += ad(j) * bd(j); na += ad(j) * ad(j); nb += bd(j) * bd(j) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = rows.map(r => r._1 -> r).toMap
    val expect = (0L until nQ).flatMap { q =>
      val (_, qt, qv) = byId(q)
      val scored = rows.filter(_._1 != q).map { case (id, t, v) =>
        val inter = qt.toSet.intersect(t.toSet).size
        val jac = inter.toDouble / (qt.toSet.size + t.toSet.size - inter)
        (id, cos(qv, v), jac)
      }
      val dr = scored.sortBy(x => (-x._2, x._1)).take(m).zipWithIndex
        .map { case (x, i) => x._1 -> (i + 1) }.toMap
      val lr = scored.sortBy(x => (-x._3, x._1)).take(m).zipWithIndex
        .map { case (x, i) => x._1 -> (i + 1) }.toMap
      val fused = (dr.keySet ++ lr.keySet).toSeq.map { id =>
        val rrf = dr.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0) +
          lr.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)
        (id, dr.getOrElse(id, 0), lr.getOrElse(id, 0), rrf)
      }
      fused.sortBy(x => (-x._4, x._1)).take(k).zipWithIndex.map {
        case ((id, d, l, rrf), i) =>
          (q, id, d, l, math.rint(rrf * 1e6) / 1e6, i + 1)
      }
    }.toSet
    val got = Similarity
      .hybridRrf(lex, emb, nQueries = nQ, m = m, k = k, rrfK = rrfK, salts = 4)
      .as[(Long, Long, Int, Int, Double, Int)].collect().toSet
    assert(got == expect,
      s"only-engine=${got -- expect} only-ref=${expect -- got}")
  }

  test("hybridRrf releases the scored cache; only the result stays") {
    val rows = (0L until 30L).map(i =>
      (i, Array(s"t${i % 5}", s"u${i % 3}"),
        Array.tabulate(6)(j => math.sin(i * 3.0 + j).toFloat)))
    val lex = rows.map(r => (r._1, r._2)).toDF("doc_id", "toks")
    val emb = rows.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Similarity.hybridRrf(lex, emb, nQueries = 2, m = 4, k = 3, salts = 2)
    out.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"leaked cache blocks: $before persistent RDDs before, $after after")
  }

  test("hybridRrf: a doc leading both lists is fused to rank 1") {
    // doc 5 duplicates query 0's embedding AND token set; no other
    // doc shares tokens with the query, so 5 tops both rankings
    val qToks = Array("alpha", "beta", "gamma")
    val qEmb = Array.tabulate(6)(j => (j + 1).toFloat)
    val others = (1L to 4L).map { i =>
      (i, Array(s"w$i", s"x$i"),
        Array.tabulate(6)(j => (math.sin(i * 7.0 + j)).toFloat))
    }
    val rows = (0L, qToks, qEmb) +: others :+ ((5L, qToks, qEmb.map(_ * 2f)))
    val lex = rows.map(r => (r._1, r._2)).toDF("doc_id", "toks")
    val emb = rows.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
    val top = Similarity
      .hybridRrf(lex, emb, nQueries = 1, m = 3, k = 1, salts = 2)
      .as[(Long, Long, Int, Int, Double, Int)].collect()
    assert(top.length == 1 && top.head._2 == 5L,
      s"dual-list leader must fuse to rank 1: ${top.toSeq}")
    assert(top.head._3 == 1 && top.head._4 == 1,
      s"both source ranks must be 1: ${top.toSeq}")
  }

  test("hyperplane signature is deterministic and bounded") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet").limit(50)
    val s1 = e.select(VectorFunctions.hyperplaneSignature($"embedding", 8).as("b"))
      .as[Long].collect()
    val s2 = e.select(VectorFunctions.hyperplaneSignature($"embedding", 8).as("b"))
      .as[Long].collect()
    assert(s1.toSeq == s2.toSeq)
    s1.foreach(b => assert(b >= 0 && b < 256))
  }
}
