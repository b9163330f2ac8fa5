package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond connected components (which
  * lives in [[Dedup.connectedComponents]]): PageRank and personalized
  * PageRank, triangle counts, HITS, link prediction, k-core, label
  * propagation, bounded BFS/SSSP and harmonic closeness.
  *
  * Determinism: ranks are INTEGER-scaled (1e12 = rank 1.0) and every
  * step is integer arithmetic — `div` truncation and 64-bit sums are
  * order-independent, so the whole trajectory is reproducible by the
  * DuckDB oracle with `//`, with no float-accumulation-order caveats.
  * Overflow headroom: Σ ranks ≤ n_nodes·1e12 and the damping multiply
  * is ×85, so the int64 budget holds to ~1e15 scaled mass ≈ 1M nodes;
  * beyond that, lower SCALE (rank resolution) by the same factor.
  *
  * Round plans: each iterative picks its regime from the measured
  * state size — see [[broadcastStateRows]].
  *
  * Storage: the edge list — often an expensive join upstream — is
  * cached ONCE, growing round state runs in [[Storage.rounds]] (or
  * chains lazily where a round references it exactly once), and every
  * base relation is released before returning — the result frame is
  * itself materialized, so nothing dangles. Without this, Spark's
  * no-plan-sharing rule re-evaluates the edge subplan several times
  * per iteration.
  */
object Graph {

  private val SCALE = 1000000000000L // rank 1.0
  private val BASE = 150000000000L // (1 - d) · SCALE, d = 0.85

  /** The one state-row threshold that picks the round regime of every
    * graph iterative — the rank walks, HITS, labelPropagation, kCore
    * and [[Dedup.connectedComponents]] — from the measured state size
    * (|V|; |E| for kCore, a safe bound on its alive set).
    *
    *  - At or under it, rounds run BROADCAST plans: the O(|V|)
    *    rank/label/score state ships to the executors and joins an
    *    edge cache hash-partitioned on the round's AGGREGATION key, so
    *    each round is one stage with zero exchanges.
    *  - Over it, rounds run SHUFFLE plans (the 100 TB shape): the edge
    *    cache is partitioned on the JOIN key and streams through a
    *    shuffle_hash join against the state, so only the O(|V|) state
    *    moves, at one exchange's latency per round.
    *
    * The rank walk, HITS and labelPropagation rounds are one body each
    * with the regime as an argument ([[stateSide]], [[reattachSide]]);
    * kCore, the HITS normalizer and connectedComponents keep two plans
    * that compute the same relation. int64 sums and mins are
    * order-free, so the trajectories agree bit-for-bit (pinned in
    * GraphSpec). Default 2M (long, long)-class state rows: a ~32 MB
    * hash relation, far under the broadcast cap. Set with
    * `spark.graft.graph.broadcastStateRows`; a malformed value fails
    * naming the key. */
  private[graft] def broadcastStateRows(df: DataFrame): Long = {
    val key = "spark.graft.graph.broadcastStateRows"
    df.sparkSession.conf.getOption(key).map { v =>
      require(scala.util.Try(v.trim.toLong).isSuccess,
        s"$key must be a long row count, got '$v'")
      v.trim.toLong
    }.getOrElse(2000000L)
  }

  /** The state side of a round's edge join: broadcast, or the
    * shuffle_hash build side the pre-partitioned edges stream into. */
  private def stateSide(state: DataFrame, broadcastState: Boolean): DataFrame =
    if (broadcastState) broadcast(state) else state.hint("shuffle_hash")

  /** The re-attach side of a round's node_id left join: broadcast, or
    * left to the planner. */
  private def reattachSide(df: DataFrame, broadcastState: Boolean): DataFrame =
    if (broadcastState) broadcast(df) else df

  /** The layout prelude of the rank walks, labelPropagation and
    * [[Dedup.connectedComponents]]: picks the regime from the measured
    * `stateRows`, hash-partitions the raw (src, dst) cache on the key
    * that regime's rounds cluster on (dst: broadcast rounds aggregate
    * there; src: shuffle rounds join there), and PERSISTS it — not
    * checkpointed: under AQE a `localCheckpoint`'s LogicalRDD reports
    * unknown partitioning, so every round would re-shuffle |E| rows,
    * while `InMemoryRelation` keeps the child plan's layout. Persist
    * is safe here because the edge set is FIXED. The partitioned
    * relation is materialized and `raw` released, so only ONE copy of
    * the edge set stays resident. Returns (broadcastState, edges). */
  private[graft] def regimeEdges(
      raw: DataFrame, stateRows: Long): (Boolean, DataFrame) = {
    val broadcastState = stateRows <= broadcastStateRows(raw)
    val e = raw
      .repartition(col(if (broadcastState) "dst" else "src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    raw.unpersist(blocking = false)
    (broadcastState, e)
  }

  /** `edges(src, dst)` is a directed multigraph — parallel edges act
    * as weight. Returns (node_id, pr) with pr scaled by 1e12.
    * Uniform teleport is personalized PageRank with every node a
    * source (`is_src = 1`): `1·BASE = BASE`, `1·SCALE = SCALE`, and
    * ranks never drop below BASE, so the walk's `pr > 0` filter keeps
    * every row. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    rankWalk(edges, lit(1L), iters)

  /** Personalized PageRank (random walk with restart): the teleport
    * mass returns to the SOURCE set every step instead of spreading
    * uniformly, so ranks measure proximity to the sources — the
    * standard graph-feature / recommendation primitive. Integer-exact
    * (1e12 = 1.0, damping ×85 div 100); the base term is
    * `is_src · BASE`. pr₀ = SCALE on sources, 0 elsewhere;
    * un-normalized per-source restart mass (deterministic,
    * oracle-replayable — rescale externally if a probability vector
    * is needed). */
  def personalizedPageRank(
      edges: DataFrame, sources: Seq[Long], iters: Int): DataFrame =
    rankWalk(edges,
      col("node_id").isInCollection(sources.toSet.toSeq.sorted).cast("long"),
      iters)

  /** The rank walk behind [[pageRank]] and
    * [[personalizedPageRank]]; `isSrc` is the per-node source
    * indicator (0 or 1) over `node_id`. Node set, out-degree and
    * source indicator fold into ONE cached relation (`nodeInfo`,
    * outdeg 0 = dangling) that rides INSIDE the rank state, so contrib
    * is a pure projection of the previous round and no per-round
    * rank⋈outdeg join exists. Dangling nodes keep the base rank and
    * stop propagating — their mass is dropped, the usual
    * simplification for sink-heavy graphs. */
  private def rankWalk(edges: DataFrame, isSrc: Column, iters: Int): DataFrame = {
    // the upstream edge build — often an expensive join — is computed
    // exactly once into an unpartitioned raw cache; the regime (and
    // with it the round-plan partition key) is only known after |V|
    // is measured, so the partitioned relation derives from the cache
    val raw = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pass over raw: every edge contributes (src, 1) + (dst, 0)
    val nodeInfo = raw
      .select(explode(array(
        struct(col("src").as("node_id"), lit(1L).as("o")),
        struct(col("dst").as("node_id"), lit(0L).as("o")))).as("x"))
      .groupBy(col("x.node_id").as("node_id"))
      .agg(sum(col("x.o")).as("outdeg"))
      .withColumn("is_src", isSrc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one eager job warms BOTH caches (nodeInfo reads raw) AND
    // measures |V| — nodeInfo is one row per node
    val (broadcastState, e) = regimeEdges(raw, nodeInfo.count())
    // round 0 derives from the cached nodeInfo (and through it from
    // the caller's edges), so the shuffle loop borrows it
    val base = nodeInfo.withColumn("pr", col("is_src") * lit(SCALE))
    try {
      val pr =
        if (broadcastState || iters <= 0)
          // the broadcast round references the previous state exactly
          // ONCE (contrib is a pure projection; nodeInfo/e are cached
          // relations), so the whole trajectory chains LAZILY into one
          // materializing job — plan size is linear in iters and the
          // k−1 intermediate checkpoint jobs (pure round latency at
          // small |V|) disappear. Identical expressions per round, so
          // the trajectory stays bit-identical to the per-round-
          // checkpointed form the spec pins. (No rounds: materialize
          // the base ranks, which read the nodeInfo blocks released
          // below.)
          (1 to iters).foldLeft(base)((pr, _) =>
            pprRound(e, nodeInfo, pr, broadcastState)).localCheckpoint(true)
        else Storage.rounds(base, iters, ownsInit = false)(
          pprRound(e, nodeInfo, _, broadcastState))
      pr.select(col("node_id"), col("pr"))
    } finally {
      // the returned ranks are materialized — the base relations are
      // never read again, success or failure
      e.unpersist(blocking = false)
      nodeInfo.unpersist(blocking = false)
    }
  }

  /** ONE (personalized) PageRank superstep as two relational ops —
    * factored out so the plan-shape spec can pin the exchange budget
    * (the walk checkpoints or chains rounds, which hides the joins).
    * contrib is a pure projection of the previous round (outdeg and
    * is_src ride in the rank state; zero-rank nodes contribute
    * nothing), the inbound join meets the regime-keyed edge cache, and
    * the reattach left join lines up on node_id with the base term
    * `is_src · BASE`.
    *  - Shuffle regime: `e` arrives hash(src)-partitioned and streams
    *    against the shuffled |V|-row contrib build side, so the only
    *    moving data per round is O(|V|).
    *  - Broadcast regime: contrib broadcasts into the hash(dst) cache,
    *    the dst aggregation runs partial+final in place, and the
    *    O(|V|) inbound sums broadcast back onto the streamed nodeInfo
    *    cache — zero exchanges. Every row's value depends only on its
    *    keys, never on partition boundaries, so the layout cannot
    *    change any emitted value. */
  private[graft] def pprRound(
      e: DataFrame, nodeInfo: DataFrame, pr: DataFrame,
      broadcastState: Boolean): DataFrame = {
    val contrib = pr
      .where(col("outdeg") > 0 && col("pr") > 0)
      .select(col("node_id").as("u"), expr("pr div outdeg").as("c"))
    val inbound = e
      .join(stateSide(contrib, broadcastState), e("src") === contrib("u"))
      .groupBy(col("dst").as("node_id"))
      .agg(sum(col("c")).as("s"))
    nodeInfo
      .join(reattachSide(inbound, broadcastState), Seq("node_id"), "left")
      .select(col("node_id"), col("outdeg"), col("is_src"),
        (col("is_src") * lit(BASE) +
          expr("85 * coalesce(s, 0L) div 100")).as("pr"))
  }

  /** Per-node triangle counts over an undirected graph `und(a, b)`
    * in canonical form (a < b, no self-loops). Parallel edges are
    * ACCEPTED and deduped in-row by the adjacency build (collect_set)
    * — callers building co-occurrence edges should NOT pre-distinct
    * the pair multiset; that is a full extra shuffle of the largest
    * relation in the query. Degree-ordered orientation
    * (Chiba–Nishizeki / the standard MapReduce triangle recipe,
    * public): every edge is directed from its (degree, id)-smaller
    * endpoint, wedges are built only at a node's OUT-neighbors, and
    * each triangle is found exactly once — at its (degree,
    * id)-minimal vertex.
    *
    * Why this survives 100× data: the naive wedge join explodes on
    * hubs (Σ deg² — a celebrity node with degree 10⁶ contributes
    * 10¹² wedges). Orientation caps every out-degree at O(√E)
    * (arboricity bound), so wedge volume is Σ outdeg² ≤ E·√E
    * worst-case and near-linear on real skewed graphs — the hub's
    * edges all point INTO it and generate no wedges there. Plan
    * shape: two adjacency groupBys (symmetric explode, then a
    * degree-carrying regroup that orients in-row — no degree join),
    * one closure hash join on the oriented source, one combinable
    * count — no windows, nothing driver-side, every shuffle keyed
    * on node or edge ids. */
  def triangleCounts(undRaw: DataFrame, packIds: Boolean = true): DataFrame = {
    // Int-packing (default): node ids ride every adjacency array AND
    // the Σ outdeg² closure-join payload, so 4-byte elements halve
    // the bytes cached, shuffled, and scanned by the intersection
    // kernel vs array<long>. Guarded per-row: an id outside int32
    // raises with instructions rather than silently corrupting —
    // callers with >2^31 id spaces pass packIds = false and keep the
    // long path (same plan, wider payload).
    // NULL node ids are out of contract in BOTH modes and rejected
    // with the same explicit message (a bare between()-guard would
    // route NULL into raise_error(concat(.., NULL, ..)) == a null
    // message, while the long path would silently propagate it).
    val nullMsg = lit("triangleCounts: NULL node id — node ids must be non-null")
    val und =
      if (!packIds) {
        def guarded(c: org.apache.spark.sql.Column) =
          when(c.isNull, raise_error(nullMsg)).otherwise(c)
        undRaw.select(guarded(col("a")).as("a"), guarded(col("b")).as("b"))
      } else {
        def toInt(c: org.apache.spark.sql.Column) =
          when(c.isNull, raise_error(nullMsg))
            .when(c.between(Int.MinValue, Int.MaxValue), c.cast("int"))
            .otherwise(raise_error(concat(lit("triangleCounts: node id "),
              c.cast("string"), lit(" exceeds int32; use packIds=false"))))
        undRaw.select(toInt(col("a")).as("a"), toInt(col("b")).as("b"))
      }
    // Adjacency-FIRST, join-free orientation (two groupBys, ZERO
    // joins, one persist): pass 1's symmetric explode + groupBy
    // builds every node's full neighbor list with its degree in-row
    // as size(all_nbrs). Pass 2 re-emits each adjacency entry as
    // (v, struct(du, u)) and regroups by v — node v then holds ALL
    // its neighbors with THEIR degrees attached, and its own degree
    // is just size(ins), so the (deg, id)-orientation
    // (keep u→v iff (du, u) < (dv, v); ids unique, so the order is
    // total even between equal degrees) becomes an in-row filter.
    // This replaces the former |V|-row degree join + post-join
    // groupBy (profiled at ~40% of the pipeline, r7) with one
    // regroup of the same 2|E| stream, and leaves the full adjacency
    // with a SINGLE consumer — so it fuses into this pipeline and no
    // longer needs its own persist + eager count.
    val adj = und
      .select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr")),
        struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
      .groupBy(col("e.node").as("node"))
      // collect_SET: parallel edges dedupe inside the adjacency
      // groupBy itself, so a multigraph input needs NO upstream
      // .distinct() — that was a full extra shuffle of the pair
      // multiset, the largest relation in co-occurrence queries
      .agg(collect_set(col("e.nbr")).as("all_nbrs"))
      .select(col("node").as("u"), size(col("all_nbrs")).as("du"),
        explode(col("all_nbrs")).as("v"))
      .groupBy(col("v"))
      .agg(collect_list(struct(col("du"), col("u"))).as("ins"))
      .select(col("v").as("src"),
        array_sort(transform(
          filter(col("ins"), e => struct(size(col("ins")), col("v")) <
            struct(e.getField("du"), e.getField("u"))),
          e => e.getField("u"))).as("nbrs"))
      // the oriented adjacency is read twice (edge stream + closure
      // build side) — persisted, not checkpointed: the groupBy leaves
      // it hash(v)-partitioned, InMemoryRelation keeps that layout
      // under AQE (a checkpoint's LogicalRDD loses it), so the stream
      // branch re-reads it with no exchange.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      adj.count() // one eager job; both closure consumers hit memory
      // output contract is (bigint node_id, bigint n_triangles)
      // regardless of the internal packing (no-op cast when unpacked)
      trianglePlan(adj)
        .select(col("node_id").cast("long").as("node_id"),
          col("n_triangles"))
        .localCheckpoint(true)
    } finally adj.unpersist(blocking = false)
  }

  /** The edge-iterator closure over the materialized oriented
    * adjacency `adj(src, nbrs)` (nbrs sorted ascending) — factored out
    * so plan-shape tests can pin the join strategies (the public entry
    * checkpoints its result, which hides the joins from the final
    * plan).
    *
    * For a triangle x<y<z (in (deg,id) order) the oriented edges are
    * x→y, x→z, y→z, so it is found EXACTLY once: at edge (x,y), as
    * z ∈ out(x) ∩ out(y). The oriented edge stream is just the
    * EXPLODED adjacency, so each edge row (u,v) arrives with out(u)
    * already attached — one hash join (against out(v)) closes the
    * wedge, half the joins of the edges⋈adj⋈adj form. The in-row
    * intersection replaces the O(Σ outdeg²) wedge-row shuffle; the
    * shuffled payload (each edge carrying its out(u) list into the
    * join) is the same Σ outdeg² bound the wedge stream had, amortized
    * into arrays, and nothing wider than an adjacency list (≤ O(√E)
    * entries by orientation) ever moves. */
  private[graft] def trianglePlan(adj: DataFrame): DataFrame = {
    val tris = adj
      .select(col("src").as("u"), col("nbrs").as("nu"),
        explode(col("nbrs")).as("v"))
      // inner join: an edge whose dst has no out-list cannot close a
      // triangle (ws would be empty and filtered below anyway)
      .join(adj.select(col("src").as("v_"), col("nbrs").as("nv"))
        .hint("shuffle_hash"), col("v") === col("v_"))
      // adjacency lists are sort_array'd, so the closure intersection
      // is the codegen'd two-pointer merge — `array_intersect` builds
      // a hash set per wedge (SortedIntersect parity spec in GraphSpec)
      .select(col("u"), col("v"),
        graft.functions.SortedIntersect(col("nu"), col("nv")).as("ws"))
      .where(size(col("ws")) > 0)
    // per-node contributions in ONE pass (a 3-way union would
    // re-evaluate the join pipeline per branch): the edge endpoints
    // contribute |ws| each, every common neighbor one
    tris
      .select(explode(concat(
        array(
          struct(col("u").as("node_id"), size(col("ws")).cast("long").as("c")),
          struct(col("v").as("node_id"), size(col("ws")).cast("long").as("c"))),
        transform(col("ws"),
          w => struct(w.as("node_id"), lit(1L).as("c"))))).as("e"))
      .groupBy(col("e.node_id").as("node_id"))
      .agg(sum(col("e.c")).as("n_triangles"))
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list (parallel
    * edges act as weight): per iteration the authority score is the
    * weighted sum of in-neighbor hub scores and the hub score the
    * weighted sum of out-neighbor authorities, each half-step
    * max-normalized back to the 1e12 scale with floor division — the
    * integer-exact stand-in for the usual L2 normalization (same
    * fixpoint direction, deterministic, oracle-replayable; the raw
    * sums stay int64 — Σ over a ≤2²⁰-degree node of ≤1e12 scores —
    * and the score·SCALE normalization numerator widens to
    * decimal(38,0), HUGEINT on the oracle side).
    * Returns (node_id, hub, auth). The classic bipartite ranking —
    * here: customers as hubs, suppliers as authorities.
    *
    * Two edge caches, hash(src) and hash(dst). Broadcast regime:
    * each half-step takes the cache keyed on its AGGREGATION side and
    * whole iterations chain lazily. Shuffle regime: each half-step
    * streams the cache keyed on its JOIN side (authority joins on
    * `src`, hub on `dst`), so the O(|E|) edge list never re-exchanges
    * (pinned in PlanShapeSpec), and the raw sums are materialized
    * ONCE per half-step: both their consumers — the one-row
    * broadcast max-normalizer and the next half-step's join — read
    * the materialized relation, so the heavy join+agg is never
    * re-evaluated by the normalizer job. There is NO merged per-round
    * state relation at all: the hub half-step joins the normalized
    * authorities directly and the next round's authority half-step
    * joins the normalized hubs directly — sum-identical to a merged
    * state because every edge's dst has ≥1 in-edge (so appears in the
    * authority relation) and every edge's src has ≥1 out-edge (so
    * appears in the hub relation), and nodes absent from either would
    * contribute score 0 anyway. Nodes outside both relations
    * re-attach with score 0 in ONE final left-join merge. Net budget:
    * two materializations per iteration (the two raw-sum relations)
    * plus one final merge — down from three per iteration in the r9
    * form, which also recomputed each half-step inside its
    * broadcast-max job. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    // the upstream edge build — often an expensive join — lands ONCE
    // in an unpartitioned raw cache; both partitioned twins then fill
    // from it (previously each twin's cache fill re-evaluated the
    // upstream join), and raw is released as soon as both exist
    val raw = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eSrc = raw
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = raw
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the node set is fixed — materialized once (this job also warms
    // the raw + eSrc caches), read by round 1 and the final merge
    val nodes = eSrc.select(col("src").as("node_id"))
      .union(eSrc.select(col("dst").as("node_id")))
      .distinct()
      .localCheckpoint(true)
    eDst.count()
    raw.unpersist(blocking = false)
    // |V| regime probe on the materialized checkpoint (trivial job)
    val broadcastState = nodes.count() <= broadcastStateRows(edges)
    var hubState = nodes.select(col("node_id"), lit(SCALE).as("hub"))
    var aNorm: DataFrame = null
    var hNorm: DataFrame = null
    // HITS keeps its own loop: a round is TWO checkpoints (the raw
    // sums of both half-steps), and the last round's authorities are
    // read again by the final merge, so [[Storage.rounds]]' one live
    // frame per round cannot hold it. `live` is the round's checkpoints
    // the current normalized states read.
    var live = Seq.empty[DataFrame]
    def releaseLive(): Unit = {
      live.foreach(Storage.unpersistLocalCheckpoint)
      live = Nil
    }
    try {
      if (broadcastState) for (i <- 1 to iters) {
        // broadcast regime: the window-form normalizer references its
        // half-step exactly once, so the whole trajectory chains
        // LAZILY — the only checkpoints are the LAST iteration's two
        // normalized states (each has a second consumer: the final
        // merge, and for auth the last hub half-step). 2 jobs replace
        // 2·iters; same expressions, bit-identical trajectory (the
        // regime spec pins it).
        aNorm = hitsMaxNormBc(hitsRawAuth(eDst, hubState, broadcastState), "ra", "auth")
        if (i == iters) {
          aNorm = aNorm.localCheckpoint(true)
          live :+= aNorm
        }
        hNorm = hitsMaxNormBc(hitsRawHub(eSrc, aNorm, broadcastState), "rh", "hub")
        if (i == iters) {
          hNorm = hNorm.localCheckpoint(true)
          live :+= hNorm
        }
        hubState = hNorm
      } else for (_ <- 1 to iters) {
        // authority half-step: raw in-neighbor hub sums, materialized
        // once — the heavy O(|E|) join+agg job of this half-step
        val rawA = hitsRawAuth(eSrc, hubState, broadcastState).localCheckpoint(true)
        // the previous round's raw relations fed this job (via the
        // lazy normalizers); safe to release only now
        releaseLive()
        live = Seq(rawA)
        aNorm = hitsMaxNorm(rawA, "ra", "auth")
        // hub half-step over the NEW authorities
        val rawH = hitsRawHub(eDst, aNorm, broadcastState).localCheckpoint(true)
        live :+= rawH
        hNorm = hitsMaxNorm(rawH, "rh", "hub")
        hubState = hNorm
      }
      if (iters <= 0) // no rounds ran (hNorm/aNorm never assigned)
        nodes.select(col("node_id"),
          lit(SCALE).as("hub"), lit(SCALE).as("auth"))
          .localCheckpoint(true)
      else
        nodes
          .join(reattachSide(hNorm, broadcastState), Seq("node_id"), "left")
          .join(reattachSide(aNorm, broadcastState), Seq("node_id"), "left")
          .select(col("node_id"),
            coalesce(col("hub"), lit(0L)).as("hub"),
            coalesce(col("auth"), lit(0L)).as("auth"))
          .localCheckpoint(true)
    } finally {
      releaseLive()
      Storage.unpersistLocalCheckpoint(nodes)
      eSrc.unpersist(blocking = false)
      eDst.unpersist(blocking = false)
    }
  }

  /** Raw authority sums for one HITS half-step — factored out so the
    * plan-shape spec and digest can pin the exchange budget: the edge
    * cache joins the O(|V|) hub state on `src`, then one
    * map-side-combinable sum keyed on `dst`. Shuffle regime: `e` is
    * the hash(src) cache, streamed into a shuffle_hash join with no
    * edge re-exchange. Broadcast regime: `e` is the hash(dst) cache,
    * whose layout satisfies the dst aggregation in place — zero
    * exchanges. */
  private[graft] def hitsRawAuth(
      e: DataFrame, state: DataFrame, broadcastState: Boolean): DataFrame =
    e
      .join(stateSide(state.select(col("node_id").as("u"), col("hub")),
        broadcastState), col("src") === col("u"))
      .groupBy(col("dst").as("node_id"))
      .agg(sum(col("hub")).as("ra"))

  /** Raw hub sums for one HITS half-step — the mirror of
    * [[hitsRawAuth]]: the edge cache joins the O(|V|) authority
    * relation on `dst`, then one combinable sum keyed on `src`
    * (shuffle regime: the hash(dst) cache; broadcast regime: the
    * hash(src) cache). */
  private[graft] def hitsRawHub(
      e: DataFrame, auth: DataFrame, broadcastState: Boolean): DataFrame =
    e
      .join(stateSide(auth.select(col("node_id").as("v"), col("auth")),
        broadcastState), col("dst") === col("v"))
      .groupBy(col("src").as("node_id"))
      .agg(sum(col("auth")).as("rh"))

  /** Max-normalize a raw HITS score relation back to the 1e12 scale:
    * one-row max broadcast back via crossJoin, floor division on a
    * decimal(38,0)-widened numerator (raw·SCALE reaches ~1e28;
    * DuckDB mirrors with HUGEINT). */
  private[graft] def hitsMaxNorm(
      raw: DataFrame, in: String, out: String): DataFrame =
    raw
      .crossJoin(broadcast(raw.agg(max(col(in)).as("mx"))))
      .select(col("node_id"),
        call_function("div",
          col(in).cast("decimal(38,0)") * lit(SCALE),
          col("mx")).as(out))

  /** [[hitsMaxNorm]] as a GLOBAL window — the same max over the same
    * rows and the same decimal floor division, but the input relation
    * is referenced exactly ONCE, which is what lets the broadcast
    * regime chain whole iterations lazily. The single-partition
    * window funnel is only safe at broadcast-regime |V|; the shuffle
    * regime keeps the crossJoin form over checkpointed half-steps. */
  private[graft] def hitsMaxNormBc(
      raw: DataFrame, in: String, out: String): DataFrame =
    raw.select(col("node_id"),
      call_function("div",
        col(in).cast("decimal(38,0)") * lit(SCALE),
        max(col(in)).over(
          org.apache.spark.sql.expressions.Window.partitionBy())).as(out))

  /** Link-prediction scores for every existing edge of an undirected
    * graph `und(a, b)` (canonical a < b, no self-loops; parallel
    * edges deduped in-row): `cn` = number of common neighbors, `ra` =
    * the resource-allocation index Σ_{w ∈ N(a)∩N(b)} 1/deg(w) — the
    * log-free Adamic–Adar variant, integer-scaled (1e12 = 1.0, floor
    * division) so both engines compute it bit-identically. Edges with
    * no common neighbors are omitted. These are the classic
    * neighborhood-overlap features behind co-purchase "customers also
    * bought" recommendation and graph-ML edge featurization.
    *
    * 100 TB shape: the same two-groupBy degree-carrying adjacency as
    * [[triangleCounts]], but each neighbor entry PACKS its degree
    * into the low bits of one long (nbr·2²⁰ + deg, guarded) — the
    * sorted packed arrays still intersect with the codegen'd
    * two-pointer [[graft.functions.SortedIntersect]] (neighbor-major
    * order, equal iff same neighbor), and both `cn` and `ra` then
    * reduce IN-ROW from the intersection, so the Σ deg² wedge volume
    * never shuffles and no per-wedge degree join exists. One edge
    * re-hash (the b-side adjacency join) is the only data-sized
    * exchange past the adjacency build. */
  def linkPredictionScores(und: DataFrame): DataFrame = {
    val PACK = 1L << 20
    val nullMsg = lit("linkPredictionScores: NULL node id — node ids must be non-null")
    def guarded(c: org.apache.spark.sql.Column) =
      when(c.isNull, raise_error(nullMsg))
        .when(c >= lit(Long.MaxValue / PACK), raise_error(concat(
          lit("linkPredictionScores: node id "), c.cast("string"),
          lit(" overflows the degree packing"))))
        .otherwise(c)
    // pass 1: full neighbor sets (dedup in-row); pass 2: re-emit each
    // entry as (nbr, (node, deg(node))) and regroup, so every node
    // holds its neighbors WITH their degrees — packed neighbor-major
    val adj = und
      .select(explode(array(
        struct(guarded(col("a")).as("node"), guarded(col("b")).as("nbr")),
        struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
      .groupBy(col("e.node").as("node"))
      .agg(collect_set(col("e.nbr")).as("all_nbrs"))
      .select(col("node").as("u"),
        when(size(col("all_nbrs")) < PACK, size(col("all_nbrs")).cast("long"))
          .otherwise(raise_error(concat(
            lit("linkPredictionScores: degree of node "),
            col("node").cast("string"),
            lit(" overflows the 2^20 packing")))).as("du"),
        explode(col("all_nbrs")).as("v"))
      .groupBy(col("v"))
      .agg(array_sort(collect_list(
        col("u") * lit(PACK) + col("du"))).as("packed"))
      .select(col("v").as("node"), col("packed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      adj.count() // one eager job; both consumers below hit memory
      linkPredScorePlan(adj).localCheckpoint(true)
    } finally adj.unpersist(blocking = false)
  }

  /** The edge-stream + intersect + in-row reduce stage of
    * [[linkPredictionScores]] over the materialized degree-packed
    * adjacency `adj(node, packed)` — factored out so the plan-shape
    * spec and digest can pin the exchange budget (the public entry
    * checkpoints its result, hiding the joins): the exploded edge
    * stream arrives with out(a) attached, one shuffle_hash join
    * attaches out(b), and both `cn` and `ra` reduce IN-ROW from the
    * codegen'd SortedIntersect — the Σ deg² wedge volume never
    * shuffles and no per-wedge degree join exists. */
  private[graft] def linkPredScorePlan(adj: DataFrame): DataFrame = {
    val PACK = 1L << 20
    // packed values are non-negative (ids guarded), so unpacking is
    // shift/mask — both codegen'd single instructions
    adj
      .select(col("node").as("a"), col("packed").as("pa"),
        explode(col("packed")).as("bp"))
      .select(col("a"), col("pa"), shiftright(col("bp"), 20).as("b"))
      .where(col("a") < col("b"))
      .join(adj.select(col("node").as("b_"), col("packed").as("pb"))
        .hint("shuffle_hash"), col("b") === col("b_"))
      .select(col("a"), col("b"),
        graft.functions.SortedIntersect(col("pa"), col("pb")).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("a"), col("b"),
        size(col("ws")).cast("long").as("cn"),
        aggregate(col("ws"), lit(0L),
          (acc, w) => acc + call_function("div", lit(SCALE),
            w.bitwiseAND(lit(PACK - 1)))).as("ra"))
  }

  /** `rounds`-round k-core peel over an undirected graph `und(a, b)`
    * in canonical form (a < b, no self-loops). Parallel edges are
    * ACCEPTED and deduped in-row by the symmetric adjacency build
    * (collect_set groupBy — same recipe as [[triangleCounts]]), so
    * co-occurrence callers should NOT pre-distinct the pair multiset:
    * that is a full extra shuffle of the largest relation, and the
    * adjacency groupBy both dedupes AND lands the hash(src) layout
    * every later round reuses, where a distinct + repartition pays
    * two shuffles for the same state. Each round recomputes degrees
    * and deletes every node of degree
    * < k with its incident edges. Returns the surviving nodes with
    * their degree inside the peeled subgraph — after enough rounds
    * this IS the k-core (the peel is monotone, so the fixpoint is
    * unique and round-order-free); with a fixed round budget the
    * semantics stay deterministic and an oracle can replay them
    * round-for-round. The loop exits early once an edge count
    * repeats — a fixpoint makes every later round a no-op, so the
    * early exit is unobservable in the result.
    *
    * 100 TB shape: the symmetric edge list lives hash(src)-partitioned
    * in a per-round persist (persist, NOT localCheckpoint: under AQE a
    * checkpoint's LogicalRDD forgets its outputPartitioning, so every
    * consumer would re-exchange |E| rows; each superseded round is
    * released once its successor is materialized). Per round the whole
    * peel costs ONE O(|E'|) exchange — see [[kCoreRound]] for the
    * single-reference window formulation and why a degree-agg +
    * semi-join round (which reads the state twice) is structurally
    * ruled out: plan trees double per round and the rendered plan
    * string OOMs the driver at modest round counts. Nothing
    * driver-side but the one-count convergence probe per round over
    * an already-materialized relation (pinned in PlanShapeSpec). */
  def kCore(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    val adjacency = und
      .select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr")),
        struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
      .groupBy(col("e.node").as("src"))
      .agg(collect_set(col("e.nbr")).as("nbrs"))
      .select(col("src"), explode(col("nbrs")).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var n = adjacency.count()
    // regime probe: |E| bounds the O(|V|) alive relation the
    // broadcast round ships, so the edge count (already measured for
    // the convergence test) is a safe conservative guard
    val smallGraph = n <= broadcastStateRows(und)
    var done = n == 0
    // kCore keeps its own loop: the shuffle regime PERSISTS its rounds
    // (see above), which [[Storage.rounds]]' checkpoint loop cannot do.
    // In the small regime each round's survivors are checkpointed
    // (LEAF state — the broadcast round references it twice, which
    // on a persisted-only state would double the ANALYZED plan tree
    // per round, the exact driver OOM the window form was built to
    // avoid); either way a superseded round, the persisted adjacency
    // included, is released once its successor is materialized
    def release(state: DataFrame): Unit =
      if (smallGraph && (state ne adjacency)) Storage.unpersistLocalCheckpoint(state)
      else state.unpersist(blocking = false)
    var edges = adjacency
    try {
      for (_ <- 1 to rounds if !done) {
        val next =
          if (smallGraph) kCoreRoundBc(edges, k).localCheckpoint(true)
          else kCoreRound(edges, k)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val m = next.count()
        release(edges)
        edges = next
        done = m == n || m == 0
        n = m
      }
      // the degree agg below re-reads the final round's state, so
      // the survivors must be materialized before the finally releases
      edges
        .groupBy(col("src").as("node_id"))
        .agg(count(lit(1)).as("deg_in_core"))
        .localCheckpoint(true)
    } finally release(edges)
  }

  /** One peel round over a hash(src)-partitioned SYMMETRIC edge list —
    * factored out so the plan-shape spec can pin the one-exchange
    * budget (the public entry persists each round, which makes later
    * rounds read a cache scan).
    *
    * Shape constraint that is easy to break: the round must reference
    * the incoming state exactly ONCE. The natural degree-agg + two-
    * semi-join form reads it twice, so each round's plan embeds the
    * previous round's tree twice and the plan STRING the execution
    * listener renders per action grows 2^rounds — a 12-round peel
    * OOMs the driver before any data moves. Whole-partition window
    * counts give both endpoint degrees in one linear pipeline:
    * count over hash(src) is exchange-free on the cached layout,
    * count over dst pays the round's single O(|E′|) exchange, and the
    * closing (src, dst) swap restores hash(src) by renaming — sound
    * because the list is symmetric and both endpoints were filtered
    * alive. Per-node window state is one partition's rows, the same
    * hub bound the adjacency build already accepts. */
  private[graft] def kCoreRound(edges: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    edges
      .withColumn("ds", count(lit(1)).over(Window.partitionBy("src")))
      .withColumn("dd", count(lit(1)).over(Window.partitionBy("dst")))
      .where(col("ds") >= k && col("dd") >= k)
      .select(col("dst").as("src"), col("src").as("dst"))
  }

  /** BROADCAST peel round (small-graph regime): the per-node degree
    * of the current peeled subgraph is one combinable count (O(|V'|)
    * rows after map-side combine — the round's only exchange, of
    * partials, vs the window form's O(|E'|) full-row exchange plus
    * two sorts), the alive set broadcasts back, and an edge survives
    * iff BOTH endpoints are alive — two broadcast LEFT SEMI joins
    * over the streamed state.
    *
    * Equivalence to [[kCoreRound]]: the state is symmetric ((u,v) ∈ E
    * ⟺ (v,u) ∈ E — the adjacency build emits both directions and
    * every round preserves symmetry because the survival predicate
    * is endpoint-symmetric), so a node's src-degree equals its
    * dst-degree and filtering both endpoints against the src-keyed
    * alive set keeps exactly the rows `ds >= k && dd >= k` keeps;
    * the window form's closing (src, dst) swap of a symmetric
    * relation is a multiset no-op. Rows are unique per (src, dst)
    * (collect_set build), alive is unique per node (groupBy), and
    * LEFT SEMI never duplicates — the output relation is identical.
    *
    * References the state TWICE (stream + degree agg) — safe only
    * because the small-regime state is a materialized checkpoint
    * LEAF; see the kCore loop comment. */
  private[graft] def kCoreRoundBc(edges: DataFrame, k: Int): DataFrame = {
    val alive = edges
      .groupBy(col("src").as("n"))
      .agg(count(lit(1)).as("d"))
      .where(col("d") >= k)
    edges
      .join(broadcast(alive.select(col("n").as("sa"))),
        col("src") === col("sa"), "left_semi")
      .join(broadcast(alive.select(col("n").as("da"))),
        col("dst") === col("da"), "left_semi")
  }

  /** `rounds` synchronous label-propagation steps over a directed
    * edge list `edges(src, dst)` (symmetrize upstream for undirected
    * semantics; parallel edges act as vote weight). Every node starts
    * labeled with its own id; each round every node adopts the label
    * most frequent among its in-neighbors, ties broken toward the
    * SMALLEST label — the classic community-detection sweep
    * (Raghavan et al. 2007) made deterministic by the total
    * (count desc, label asc) vote order. Nodes with no in-neighbors
    * keep their current label. Returns (node_id, community) after
    * the fixed round budget — fixed rounds, not convergence, because
    * synchronous LPA can 2-cycle on bipartite structures; a
    * deterministic budget keeps the trajectory exactly replayable.
    *
    * Per round: one join of the regime-keyed edge cache with the
    * O(|V|) label state, one combinable (dst, label) count, and one
    * max_by reduce per node — all hash-keyed, nothing collected, no
    * windows (see [[labelPropRound]]). The vote
    * argmax rides an integer composite (cnt·10¹¹ − label) so the
    * reduce stays a single combinable max_by instead of a window
    * sort; label ids must stay below 10¹¹ (guarded — headroom for
    * the repo-wide 10¹⁰ synthetic-node-id offset convention). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // the upstream edge build lands once in an unpartitioned raw
    // cache; |V| is probed off the label-state checkpoint
    val raw = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the label state IS the node set (one row per node), so no
    // separate nodes relation exists: round N's reattach left-joins
    // votes back onto the state itself. The init checkpoint doubles
    // as the job that warms the raw edge cache.
    val lbl = raw.select(col("src").as("node_id"))
      .union(raw.select(col("dst").as("node_id")))
      .distinct()
      .select(col("node_id"),
        when(col("node_id").between(0L, 99999999999L), col("node_id"))
          .otherwise(raise_error(concat(lit("labelPropagation: node id "),
            col("node_id").cast("string"),
            lit(" outside [0, 1e11) — composite vote order would overflow"))))
          .as("community"))
      .localCheckpoint(true)
    val (broadcastState, e) = regimeEdges(raw, lbl.count())
    try Storage.rounds(lbl, rounds)(labelPropRound(e, _, broadcastState))
    finally e.unpersist(blocking = false)
  }

  /** Multi-source BFS: minimum hop count from any node in `sources`
    * to every node reachable within `maxHops` over the directed edge
    * list `edges(src, dst)` (symmetrize upstream for undirected
    * semantics). Returns (node_id, hops) — exactly the nodes
    * discovered inside the budget, hops = shortest-path length.
    * Unit weights are a special case of [[boundedSssp]]; the shared
    * frontier kernel is BFS-optimal here automatically, because with
    * unit weights a node's first discovery is already minimal, so
    * the "improved" set degenerates to the newly-discovered frontier
    * and each round's join touches only it. */
  def bfs(edges: DataFrame, sources: Seq[Long], maxHops: Int): DataFrame =
    boundedSssp(
      edges.select(col("src"), col("dst")).withColumn("w", lit(1L)),
      sources, maxHops)
      .withColumnRenamed("dist", "hops")

  /** Bellman–Ford relaxation bounded at `rounds` supersteps from a
    * source set: returns (node_id, dist) = the minimum total edge
    * weight over all paths of ≤ `rounds` hops from any source, for
    * every node reachable inside the budget. `edges(src, dst, w)` is
    * a directed multigraph with INTEGER weights — parallel edges are
    * alternative routes, folded by the relaxation's min. Weights are
    * exact int64 arithmetic throughout, so the whole trajectory is
    * bit-replayable by an unrolled SQL oracle; a fixed round budget
    * (not convergence) keeps the result a pure function of
    * (edges, sources, rounds) — the k-hop-bounded distance semantics
    * a feature pipeline wants anyway ("cost within 3 referrals").
    *
    * Frontier discipline — the part that matters at 100 TB: only a
    * node whose distance IMPROVED in round r can improve a neighbor
    * in round r+1 (relaxation monotonicity), so each round joins the
    * pre-partitioned edge list against the CHANGED rows only —
    * O(|frontier|), not O(|V|). The candidate relaxations fold with
    * one map-side-combinable min per dst; the state merge is one
    * |V|-row outer join. Induction gives exactness: after round r,
    * dist(v) equals the ≤ r-hop optimum (every prefix-optimal value
    * is offered the round after it is achieved), so frontier pruning
    * changes cost, never the answer. Edges are persisted
    * pre-partitioned once and the rounds run in [[Storage.rounds]].
    *
    * Overflow headroom: dist ≤ rounds · max|w|; the relaxation add is
    * int64 with no guard — callers with |w| near 2⁶³/rounds own the
    * bound (the TPC-H-scale weights here sit ~10 orders below it). */
  def boundedSssp(
      edges: DataFrame, sources: Seq[Long], rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    // NOTE (r18): deliberately NOT ported to the two-regime broadcast
    // recipe. A measured attempt (raw cache + |V| probe + hash(dst)
    // layout + broadcast rounds with the full outer decomposed into
    // broadcast left + anti joins) REGRESSED graph_sssp ~0.5 s and
    // left bfs/closeness flat: the probe and re-layout jobs don't
    // amortize over 3-4 frontier rounds whose shuffled state is tiny,
    // and a per-round state-count guard cannot safely bound the
    // CANDIDATE relation's broadcast (one hub in the frontier can
    // expand past any state-derived threshold). The shuffle plan
    // below is already the 100 TB shape.
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import spark.implicits._
    // round-0 state = the sources at distance 0; also the warm-up job
    val state = sources.toSet.toSeq.sorted.toDF("node_id")
      .select(col("node_id").cast("long").as("node_id"),
        lit(0L).as("dist"), lit(true).as("improved"))
      .localCheckpoint(true)
    try Storage.releasing(Storage.rounds(state, rounds)(ssspRound(e, _)))(
      _.select(col("node_id"), col("dist")).localCheckpoint(true))
    finally e.unpersist(blocking = false)
  }

  /** PER-SOURCE bounded BFS: [[bfs]] keyed by (src_id, node_id) —
    * every source's full hop field in ONE trajectory (state rows are
    * (source, node) pairs; the relaxation join and min fold key on
    * the composite), instead of |S| sequential frontier loops whose
    * round latencies add up. Returns (src_id, node_id, hops) for
    * every pair discovered inside the budget. State size is
    * O(|S|·|V|) worst case — callers own keeping |S| a seed set
    * (centrality probes, landmark embeddings), not the node set. */
  def bfsPerSource(
      edges: DataFrame, sources: Seq[Long], maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    // NOT ported to the broadcast recipe — see [[boundedSssp]]'s note
    // (measured regression; the candidate broadcast is unboundable).
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import spark.implicits._
    val state = sources.toSet.toSeq.sorted.toDF("src_id")
      .select(col("src_id").cast("long").as("src_id"),
        col("src_id").cast("long").as("node_id"),
        lit(0L).as("hops"), lit(true).as("improved"))
      .localCheckpoint(true)
    try Storage.releasing(Storage.rounds(state, maxHops)(bfsPerSourceRound(e, _)))(
      _.select(col("src_id"), col("node_id"), col("hops")).localCheckpoint(true))
    finally e.unpersist(blocking = false)
  }

  /** One composite-keyed BFS superstep — [[ssspRound]] keyed by
    * (src_id, node_id) with unit weights. */
  private[graft] def bfsPerSourceRound(
      e: DataFrame, state: DataFrame): DataFrame = {
    val cand = e
      .join(state.where(col("improved"))
          .select(col("src_id"), col("node_id").as("u"), col("hops").as("du"))
          .hint("shuffle_hash"),
        e("src") === col("u"))
      .groupBy(col("src_id"), col("dst").as("node_id"))
      .agg(min(col("du") + 1L).as("nh"))
    state.select(col("src_id"), col("node_id"), col("hops"))
      .join(cand, Seq("src_id", "node_id"), "full_outer")
      .select(col("src_id"), col("node_id"),
        least(coalesce(col("hops"), col("nh")),
          coalesce(col("nh"), col("hops"))).as("hops"),
        (col("nh").isNotNull &&
          (col("hops").isNull || col("nh") < col("hops"))).as("improved"))
  }

  /** Harmonic closeness restricted to a landmark/seed set (Marchiori
    * & Latora 2000; the sampled-centrality practice for graphs where
    * all-pairs BFS is unpayable): for each node, Σ over sources of
    * 1/d(s, v) for the sources that reach it within `maxHops`,
    * scaled by 840 = lcm(1..8) so every term is an EXACT integer
    * (840/d divides evenly for any hop count d ≤ 8) and the sum is
    * order-independent — the oracle replays it with integer `//`.
    * Returns (node_id, n_reach, hc840); sources score their own
    * d = 0 as no contribution (standard harmonic convention).
    * Requires maxHops ≤ 8 (the exactness window; raise the scale
    * constant for deeper probes). */
  def harmonicCloseness(
      edges: DataFrame, sources: Seq[Long], maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      s"harmonicCloseness: maxHops $maxHops outside [1, 8] — 840 is " +
        "only divisible by hop counts up to 8")
    bfsPerSource(edges, sources, maxHops)
      .where(col("hops") > 0)
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_reach"),
        // 840/d is exact for every d ≤ 8, so the per-row long cast
        // loses nothing and the sum is pure int64 — order-free
        sum((lit(840L) / col("hops")).cast("long")).as("hc840"))
  }

  /** One bounded-SSSP superstep, factored out so the plan-shape spec
    * can pin the exchange budget: candidate relaxations stream the
    * pre-partitioned edges against the previous round's IMPROVED rows
    * only (shuffle_hash — the frontier is the small side by
    * construction), fold map-side to one min per dst, and one full
    * outer join merges them into the |V|-row state. `improved` marks
    * rows the merge lowered (or discovered) — the next round's
    * frontier. */
  private[graft] def ssspRound(e: DataFrame, state: DataFrame): DataFrame = {
    val cand = e
      .join(state.where(col("improved"))
          .select(col("node_id").as("u"), col("dist").as("du"))
          .hint("shuffle_hash"),
        e("src") === col("u"))
      .groupBy(col("dst").as("node_id"))
      .agg(min(col("du") + col("w")).as("nd"))
    state.select(col("node_id"), col("dist"))
      .join(cand, Seq("node_id"), "full_outer")
      .select(col("node_id"),
        least(coalesce(col("dist"), col("nd")),
          coalesce(col("nd"), col("dist"))).as("dist"),
        (col("nd").isNotNull &&
          (col("dist").isNull || col("nd") < col("dist"))).as("improved"))
  }


  /** One synchronous LPA superstep, factored out so the plan-shape
    * spec can pin the exchange budget (the public entry checkpoints
    * each round, hiding the joins): vote stream = edges ⋈ labels on
    * src, vote count combines map-side, the argmax is one combinable
    * max_by on the integer composite, and one left join re-attaches
    * the votes onto the label state (which holds every node, voted or
    * not).
    *  - Shuffle regime: the hash(src) edge cache streams against the
    *    shuffled label state.
    *  - Broadcast regime: the label state broadcasts into the
    *    hash(dst) cache, the (dst, community) count AND the per-node
    *    argmax both run in place on that layout, and the O(|V|) votes
    *    broadcast back onto the state checkpoint — zero exchanges. The
    *    argmax key is a total order, so the winning label is
    *    layout-independent. */
  private[graft] def labelPropRound(
      e: DataFrame, lbl: DataFrame, broadcastState: Boolean): DataFrame = {
    val votes = e
      .join(stateSide(lbl.withColumnRenamed("node_id", "u"), broadcastState),
        e("src") === col("u"))
      .groupBy(col("dst").as("node_id"), col("community").as("c"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("node_id"))
      .agg(max_by(col("c"), lpVoteOrder).as("voted"))
    lbl
      .join(reattachSide(votes, broadcastState), Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("voted"), col("community")).as("community"))
  }

  /** The LPA vote argmax key: composite vote order cnt·10¹¹ − c
    * needs cnt·10¹¹ ≤ int64 max; guarded like the label-id bound
    * (Spark with ANSI off would wrap silently to a wrong community
    * while the oracle's BIGINT errors — an asymmetric divergence
    * without the guard). */
  private def lpVoteOrder: org.apache.spark.sql.Column =
    when(col("cnt") <= lit(92233720L),
      col("cnt") * lit(100000000000L) - col("c"))
      .otherwise(raise_error(concat(
        lit("labelPropagation: vote count "), col("cnt").cast("string"),
        lit(" overflows the composite vote order (max 92233720 "),
        lit("weighted in-edges per label)"))))
}
