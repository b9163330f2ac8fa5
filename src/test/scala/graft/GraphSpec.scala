package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pagerank: the node every edge points at outranks the pointers") {
    // star graph: 1..5 all point at 10; 10 points back at 1
    val edges = (Seq((10L, 1L)) ++ (1L to 5L).map(u => (u, 10L)))
      .toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(pr(10L) > pr(1L), s"hub not ranked above spoke: $pr")
    assert(pr(1L) > pr(2L), "backlinked spoke 1 should outrank plain spokes")
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L) && pr(4L) == pr(5L),
      "symmetric spokes must tie exactly (integer arithmetic)")
  }

  test("pagerank is deterministic across runs and partitionings") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 50)).toDF("src", "dst")
    val a = Graph.pageRank(edges, iters = 3).as[(Long, Long)].collect().toSet
    val b = Graph.pageRank(edges.repartition(13), iters = 3)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("graph iteratives leave only their result cached, in both regimes") {
    // base relations (raw and regime-keyed edge caches, node info) and
    // superseded rounds must unpersist in either round regime — the
    // storage-flatness contract of connectedComponents
    val edges = (1L to 100L).map(i => (i, i % 10)).toDF("src", "dst")
    val und = edges.where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
    val pairs = edges.select($"src".as("a_id"), $"dst".as("b_id"))
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Graph.pageRank(edges, iters = 3)),
      "personalizedPageRank" ->
        (() => Graph.personalizedPageRank(edges, Seq(1L, 2L), iters = 3)),
      "hits" -> (() => Graph.hits(edges, iters = 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, rounds = 3)),
      "kCore" -> (() => Graph.kCore(und, k = 2, rounds = 4)),
      "connectedComponents" -> (() => graft.operators.Dedup.connectedComponents(pairs)))
    for (regime <- Seq("broadcast", "shuffle"); (name, run) <- ops) {
      if (regime == "shuffle")
        spark.conf.set("spark.graft.graph.broadcastStateRows", "0")
      try {
        val before = spark.sparkContext.getPersistentRDDs.size
        run().count()
        val after = spark.sparkContext.getPersistentRDDs.size
        assert(after <= before + 1, s"$name ($regime regime) leaked " +
          s"checkpoint blocks: $before persistent RDDs before, $after after")
      } finally spark.conf.unset("spark.graft.graph.broadcastStateRows")
    }
  }

  test("a graph iterative whose edge build throws in the prelude leaves nothing cached") {
    // the third edge fails the upstream build when it runs (a range,
    // not a local relation the optimizer would fold at planning), so
    // the prelude's first job throws: neither the raw edge cache nor
    // the node-info cache or label pin built from it may stay
    // registered
    val edges = spark.range(1, 4).select($"id".as("src"),
      when($"id" < 3, $"id" + 1)
        .otherwise(raise_error(lit("edge build failed"))).as("dst"))
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Graph.pageRank(edges, iters = 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, rounds = 3)))
    for ((name, run) <- ops) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val e = intercept[Exception](run())
      assert(exceptionChain(e).exists(_.contains("edge build failed")), name)
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$name left ${left.size} persistent RDDs")
      assert(edges.select($"src", $"dst").storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE, s"$name left its raw edges cached")
    }
  }

  test("SortedIntersect is bit-parity with array_intersect on sorted inputs") {
    // the triangle closure's precondition: both sides sorted ascending,
    // distinct — then the merge kernel must equal array_intersect
    // exactly (including emptiness and full-overlap edges)
    val rnd = new scala.util.Random(42)
    val rows = (1 to 500).map { _ =>
      def arr() = rnd.shuffle((0L to 60L).toList)
        .take(rnd.nextInt(12)).sorted
      (arr(), arr())
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
      graft.functions.SortedIntersect($"a", $"b").as("fast"),
      array_intersect($"a", $"b").as("ref"))
      .filter(not($"fast" <=> $"ref")).count()
    assert(diff == 0)
  }

  test("pagerank with zero iterations returns the base rank everywhere") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 0).as[(Long, Long)].collect().toMap
    assert(pr.values.toSet == Set(1000000000000L))
  }

  /** Plain-Scala triangle enumeration — the definition. */
  private def refTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val tris = for {
      x <- nodes; y <- nodes if x < y && edges((x, y))
      z <- nodes if y < z && edges((y, z)) && edges((x, z))
    } yield Seq(x, y, z)
    tris.flatten.groupBy(identity).map { case (n, occ) => n -> occ.size.toLong }
  }

  test("triangle counts match brute force, including around a hub") {
    // hub 0 connected to 1..10; ring closures 1-2,2-3,...,9-10 give
    // 9 triangles through the hub; plus an isolated triangle 20-21-22
    // and a triangle-free pendant edge 30-31
    val edgeSet: Set[(Long, Long)] =
      (1L to 10L).map(i => (0L, i)).toSet ++
        (1L to 9L).map(i => (i, i + 1)).toSet ++
        Set((20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L))
    val und = edgeSet.toSeq.toDF("a", "b")
    val got = Graph.triangleCounts(und).as[(Long, Long)].collect().toMap
    assert(got == refTriangles(edgeSet))
    assert(got(0L) == 9L) // the hub sits on all ring triangles
    assert(got(20L) == 1L && got(21L) == 1L && got(22L) == 1L)
    assert(!got.contains(30L) && !got.contains(31L))
  }

  test("triangle counts are partitioning-invariant") {
    val edges = (for {
      a <- 1L to 40L; b <- (a + 1) to 40L
      if (a * 31 + b * 17) % 5 == 0
    } yield (a, b)).toDF("a", "b")
    val x = Graph.triangleCounts(edges).as[(Long, Long)].collect().toSet
    val y = Graph.triangleCounts(edges.repartition(17))
      .as[(Long, Long)].collect().toSet
    assert(x == y && x.nonEmpty)
  }

  test("packIds=false long path matches brute force and handles ids beyond int32") {
    // same brute-force comparison as the packed default, but with the
    // whole id space shifted above Int.MaxValue — the territory the
    // long path exists for
    val base = Int.MaxValue.toLong + 1000L
    val edgeSet: Set[(Long, Long)] =
      (1L to 10L).map(i => (base, base + i)).toSet ++
        (1L to 9L).map(i => (base + i, base + i + 1)).toSet ++
        Set((base + 20L, base + 21L), (base + 20L, base + 22L),
          (base + 21L, base + 22L), (base + 30L, base + 31L))
    val und = edgeSet.toSeq.toDF("a", "b")
    val got = Graph.triangleCounts(und, packIds = false)
      .as[(Long, Long)].collect().toMap
    assert(got == refTriangles(edgeSet))
    assert(got(base) == 9L)
  }

  test("packed path raises on ids beyond int32; both paths raise on NULL ids") {
    val big = Seq((Int.MaxValue.toLong + 1L, 1L), (1L, 2L)).toDF("a", "b")
    val e1 = intercept[Exception] { Graph.triangleCounts(big).collect() }
    assert(e1.getMessage != null &&
      exceptionChain(e1).exists(_.contains("packIds=false")),
      s"wanted int32-overflow guidance, got: ${e1.getMessage}")
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("a", "b")
    for (pack <- Seq(true, false)) {
      val e2 = intercept[Exception] {
        Graph.triangleCounts(withNull, packIds = pack).collect()
      }
      assert(exceptionChain(e2).exists(_.contains("non-null")),
        s"packIds=$pack: wanted explicit NULL-id error, got: ${e2.getMessage}")
    }
  }

  test("personalized pagerank localizes mass to the source component") {
    // two disjoint chains; restart set {1} lives in the first. All
    // rank mass must stay in component A (component B ranks exactly
    // 0 — integer arithmetic, no epsilon), and the source itself
    // keeps the restart mass every round, outranking the far end.
    def sym(ps: (Long, Long)*): Seq[(Long, Long)] =
      ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = (sym((1L, 2L), (2L, 3L)) ++ sym((10L, 11L), (11L, 12L)))
      .toDF("src", "dst")
    val got = Graph.personalizedPageRank(edges, sources = Seq(1L), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(Seq(10L, 11L, 12L).forall(got(_) == 0L),
      s"mass leaked into the disconnected component: $got")
    assert(got(2L) > 0L && got(3L) > 0L, s"mass failed to spread: $got")
    assert(got(1L) > got(3L), s"source must outrank the far end: $got")
  }

  test("kCore peels a tail chain round by round and keeps the clique") {
    // lollipop: K4 on {0,1,2,3} (every degree 3) + a 6-node path
    // 3-10-11-12-13-14-15 hanging off node 3. With k = 2 the path
    // peels ONE node per round from the free end (endpoint degree 1
    // < 2, its removal exposes the next) — a genuine multi-round
    // cascade — while the clique survives with in-core degree 3.
    val clique = for {
      a <- 0L to 3L; b <- (a + 1) to 3L
    } yield (a, b)
    val path = (Seq(3L -> 10L) ++ (10L until 15L).map(i => i -> (i + 1)))
    val und = (clique ++ path).toDF("a", "b")
    val got = Graph.kCore(und, k = 2, rounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"2-core of the lollipop must be exactly the K4, got $got")
    // an insufficient round budget leaves the partially peeled chain
    val partial = Graph.kCore(und, k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(partial.contains(10L) && !partial.contains(14L) &&
      !partial.contains(15L),
      s"2 rounds must peel exactly the last two chain nodes, got $partial")
  }

  test("kCore: empty graph and over-aggressive k produce empty cores") {
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(Graph.kCore(und, k = 2, rounds = 5).count() == 0L)
    assert(Graph.kCore(und.limit(0), k = 1, rounds = 3).count() == 0L)
  }

  test("kCore dedupes parallel edges: multigraph equals its simple graph") {
    // degree counts DISTINCT neighbors — a triplicated pair multiset
    // must produce exactly the simple graph's core (the in-row
    // collect_set dedup is what lets callers skip a pre-distinct)
    val simple = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    val multi = simple ++ simple ++ simple
    val want = Graph.kCore(simple.toDF("a", "b"), k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val got = Graph.kCore(multi.toDF("a", "b"), k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == want && want.nonEmpty, s"multigraph core diverged: $got vs $want")
  }

  test("link prediction matches brute-force CN and RA, omits zero-CN edges") {
    // K4 with a pendant node: every clique edge has the other two
    // clique nodes in common; the pendant edge (3,9) has none and
    // must be absent. Triplicated multiset input must change nothing.
    val simple = (for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)) :+ (3L, 9L)
    val nbrs = simple.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    def ref(a: Long, b: Long): (Long, Long) = {
      val ws = nbrs(a) & nbrs(b)
      (ws.size.toLong, ws.toSeq.map(w => 1000000000000L / nbrs(w).size).sum)
    }
    val want = simple.filter { case (a, b) => (nbrs(a) & nbrs(b)).nonEmpty }
      .map { case (a, b) => (a, b) -> ref(a, b) }.toMap
    for (input <- Seq(simple, simple ++ simple ++ simple)) {
      val got = Graph.linkPredictionScores(input.toDF("a", "b"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      assert(got == want && want.nonEmpty, s"scores diverged: $got vs $want")
    }
  }

  test("HITS: popularity concentrates authority; weight concentrates hubness") {
    // customers 1..5 all buy from supplier 100; customer 1 also buys
    // from fringe supplier 200; customer 2's edge to 100 is
    // triplicated (weight 3). The popular supplier must carry the
    // maximal (= SCALE-normalized) authority; suppliers have no
    // out-edges, so their hub score is exactly 0; the weighted
    // customer out-hubs the single-edge ones.
    val edges = ((1L to 5L).map(c => (c, 100L)) ++
      Seq((1L, 200L), (2L, 100L), (2L, 100L))).toDF("src", "dst")
    val got = Graph.hits(edges, iters = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val SCALE = 1000000000000L
    assert(got(100L)._2 == SCALE, s"popular supplier must top authority: $got")
    assert(got(200L)._2 < SCALE && got(200L)._2 > 0, s"fringe supplier mid: $got")
    assert(got(100L)._1 == 0L && got(200L)._1 == 0L,
      s"suppliers have no out-edges, hub must be 0: $got")
    assert(got(2L)._1 > got(3L)._1, s"weighted edge must raise hubness: $got")
    assert(got(3L)._1 == got(4L)._1, s"symmetric customers tie: $got")
  }

  test("HITS: non-positive iteration counts return the initial state") {
    // iters <= 0 means no half-step ran — every node at the initial
    // SCALE score (a negative count must not NPE on the unset round
    // state)
    val edges = Seq((1L, 100L), (2L, 100L)).toDF("src", "dst")
    val SCALE = 1000000000000L
    for (it <- Seq(0, -1)) {
      val got = Graph.hits(edges, iters = it)
        .as[(Long, Long, Long)].collect()
      assert(got.length == 3 && got.forall(r => r._2 == SCALE && r._3 == SCALE),
        s"iters=$it must yield the uniform initial state: ${got.toSeq}")
    }
  }

  test("label propagation: empty edge list yields an empty assignment") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.labelPropagation(empty, rounds = 2).count() == 0L)
  }

  test("label propagation merges a weighted vote deterministically") {
    // two triangles {1,2,3} and {8,9,7} bridged by NO edge: each
    // converges to its own min label. Parallel edges 5→6 (weight 3)
    // make label 5 outvote 4 at node 6 in a separate star.
    def sym(ps: (Long, Long)*): Seq[(Long, Long)] =
      ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val tri = sym((1L, 2L), (2L, 3L), (1L, 3L), (8L, 9L), (9L, 7L), (7L, 8L))
    val star = sym((4L, 6L), (5L, 6L), (5L, 6L), (5L, 6L))
    val edges = (tri ++ star).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L,
      s"first triangle must converge to label 1, got $got")
    assert(got(7L) == 7L && got(8L) == 7L && got(9L) == 7L,
      s"second triangle must converge to label 7, got $got")
    assert(got(6L) == 5L, s"weighted vote must beat the smaller label, got $got")
  }

  test("label propagation tie-breaks toward the smaller label") {
    // node 30 hears {10 × 1, 20 × 1}: equal counts, smaller wins
    val edges = Seq((10L, 30L), (20L, 30L), (30L, 10L), (30L, 20L))
      .toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(got(30L) == 10L)
    // sync update: 10 and 30 swap in one round, they don't chase
    assert(got(10L) == 30L && got(20L) == 30L)
  }

  test("label propagation rejects label ids that overflow the vote composite") {
    val edges = Seq((100000000000L, 1L), (1L, 100000000000L)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.labelPropagation(edges, rounds = 1).collect()
    }
    assert(exceptionChain(e).exists(_.contains("composite")),
      s"wanted composite-overflow guidance, got: ${e.getMessage}")
  }

  test("1e10 node-id offset keeps big customer keys disjoint from suppliers") {
    // regression for the retired 1e6 offset: customer 1,500,000 and
    // supplier 500,000 collided under `suppkey + 1e6` (both node
    // 1,500,000 — the graph silently merged them); under the repo-wide
    // `suppkey + 1e10` convention they stay distinct nodes. Node ids
    // at 1e10 + k must also survive the 1e11 vote composite.
    val offset = 10000000000L
    val cust = 1500000L
    val supp = 500000L + offset
    assert(cust != supp) // the collision the old offset produced
    val edges = Seq((cust, supp), (supp, cust)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 2).collect()
    assert(got.length == 2, s"wanted 2 distinct nodes, got ${got.length}")
    // one sync round swaps labels, two rounds restore: both keep a
    // label from the {cust, supp} set and the pair stays 2 rows
    assert(got.map(_.getLong(0)).toSet == Set(cust, supp))
  }

  test("bfs: multi-source hop minima, budget bound, unreached absent") {
    // path 1→2→3→4→5 plus source 7 adjacent to 4: node 5 is 1 hop
    // from 7's side via 4? no — 7→4→5, so 5 is at hop 2; node 3 is
    // min(2 from 1, 2 from 7's 4? 7→4→3 = 2) = 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 4L))
      .toDF("src", "dst")
    val got = Graph.bfs(edges, sources = Seq(1L, 7L), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 7L -> 0L, 2L -> 1L, 4L -> 1L,
      3L -> 2L, 5L -> 2L),
      s"hop minima wrong: $got")
    // hop-3 nodes appear once the budget allows
    val wide = Graph.bfs(edges, sources = Seq(1L), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(wide == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("boundedSssp: a cheap 2-hop route beats the direct edge; parallel edges fold") {
    // 1→3 direct costs 10; 1→2→3 costs 2+3 = 5; a parallel 1→2 edge
    // costs 9 and must lose to the 2
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (1L, 2L, 9L), (2L, 3L, 3L))
      .toDF("src", "dst", "w")
    val r1 = Graph.boundedSssp(edges, sources = Seq(1L), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 2L, 3L -> 10L),
      s"after 1 round the direct edge must still hold: $r1")
    val r2 = Graph.boundedSssp(edges, sources = Seq(1L), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 0L, 2L -> 2L, 3L -> 5L),
      s"round 2 must relax through the improved frontier: $r2")
  }

  test("frontier-pruned relaxation equals full Bellman-Ford on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, (1 + rnd.nextInt(9)).toLong))
    val rounds = 4
    val sources = Seq(0L, 1L)
    // driver-side full relaxation: dist_r = min over ≤ r-hop paths
    var ref = sources.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val cand = edges.flatMap { case (s, t, w) =>
        ref.get(s).map(ds => t -> (ds + w)) }
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).min }
      ref = (ref.keySet ++ cand.keySet).map { n =>
        n -> math.min(ref.getOrElse(n, Long.MaxValue),
          cand.getOrElse(n, Long.MaxValue))
      }.toMap
    }
    val got = Graph.boundedSssp(edges.toDF("src", "dst", "w"), sources, rounds)
      .as[(Long, Long)].collect().toMap
    assert(got == ref, s"engine vs reference mismatch: " +
      s"only-engine=${got.toSet -- ref.toSet} only-ref=${ref.toSet -- got.toSet}")
  }

  test("bfsPerSource equals independent per-source bfs runs") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).toDF("src", "dst")
    val sources = Seq(0L, 3L, 9L)
    val got = Graph.bfsPerSource(edges, sources, maxHops = 3)
      .as[(Long, Long, Long)].collect().toSet
    val ref = sources.flatMap { s =>
      Graph.bfs(edges, Seq(s), maxHops = 3)
        .as[(Long, Long)].collect().map { case (n, h) => (s, n, h) }
    }.toSet
    assert(got == ref, s"only-engine=${got -- ref} only-ref=${ref -- got}")
  }

  test("harmonic closeness: exact 840-scaled terms on a path graph") {
    // path 1→2→3→4 and 5→3: from sources {1, 5}, node 3 collects
    // 840/2 (two hops from 1) + 840/1 (one hop from 5) = 1260
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 3L))
      .toDF("src", "dst")
    val got = Graph.harmonicCloseness(edges, sources = Seq(1L, 5L), maxHops = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (2L, 1L, 840L), // 1 hop from source 1 only
      (3L, 2L, 1260L), // 840/2 + 840/1 = 420 + 840
      (4L, 2L, 700L)), // 840/3 + 840/2 = 280 + 420
      s"closeness terms wrong: $got")
  }

  test("harmonic closeness rejects hop budgets past the exactness window") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.harmonicCloseness(edges, sources = Seq(1L), maxHops = 9)
    }
  }

  test("bfs/sssp release every superseded checkpoint; only the result stays") {
    val edges = (1L to 100L).map(i => (i, i % 10)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Graph.bfs(edges, sources = Seq(1L), maxHops = 3)
    out.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"leaked checkpoint blocks: $before before, $after after")
  }

  test("broadcast-regime rounds are bit-identical to the shuffle plans") {
    // the iterative operators pick their round plan from the measured
    // |V| (spark.graft.graph.broadcastStateRows): below it, rounds are
    // broadcast joins over regime-keyed edge caches; above it, the
    // prior shuffle plans. Same relations, different physical
    // strategy — the trajectories must agree bit-for-bit. A random
    // multigraph (parallel edges, asymmetric reach, several
    // components) exercises vote weights, dangling nodes and peel
    // cascades in both regimes. connectedComponents shares the
    // threshold; its pair graph (many small random components) adds an
    // 80-node chain whose minimum sits at one end: min-label steps
    // alone would need 80 rounds, past the 20-round budget, so the
    // result exists only if the pointer jumps ran.
    val rnd = new scala.util.Random(7)
    val edges = (1 to 800)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
      .localCheckpoint(true)
    val und = edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
      .localCheckpoint(true)
    val chain = (1000L until 1080L).toList
    val pairs = ((1 to 100)
      .map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b } ++ chain.zip(chain.tail))
      .toDF("a_id", "b_id")
      .localCheckpoint(true)
    def runAll() = Seq(
      Graph.pageRank(edges, iters = 3).as[(Long, Long)].collect().toSet,
      Graph.personalizedPageRank(edges, Seq(1L, 2L), iters = 3)
        .as[(Long, Long)].collect().toSet,
      Graph.hits(edges, iters = 3)
        .as[(Long, Long, Long)].collect().toSet,
      Graph.labelPropagation(edges, rounds = 3)
        .as[(Long, Long)].collect().toSet,
      Graph.kCore(und, k = 3, rounds = 6).as[(Long, Long)].collect().toSet,
      graft.operators.Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet)
    val names = Seq("pageRank", "personalizedPageRank", "hits",
      "labelPropagation", "kCore", "connectedComponents")
    val bc = runAll() // 60 nodes — far under the default threshold
    spark.conf.set("spark.graft.graph.broadcastStateRows", "0")
    val sh =
      try runAll()
      finally spark.conf.unset("spark.graft.graph.broadcastStateRows")
    for (((b, s), nm) <- bc.zip(sh).zip(names)) {
      assert(b.nonEmpty, s"$nm produced no rows — vacuous comparison")
      assert(b == s, s"$nm regimes diverged")
    }
    // the chain settled on its minimum
    assert(bc.last.collect { case (d: Long, c: Long) if d >= 1000L => c } ==
      Set(1000L))
  }

  test("broadcastStateRows rejects malformed conf values loudly") {
    spark.conf.set("spark.graft.graph.broadcastStateRows", "lots")
    try {
      val e = intercept[IllegalArgumentException] {
        Graph.broadcastStateRows(Seq((1L, 2L)).toDF("src", "dst"))
      }
      assert(e.getMessage.contains("spark.graft.graph.broadcastStateRows"))
    } finally spark.conf.unset("spark.graft.graph.broadcastStateRows")
  }

  private def exceptionChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
}
