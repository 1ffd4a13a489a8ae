package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Distributed graph primitives over plain edge DataFrames — everything
  * here is equi-joins and aggregations, so Catalyst/AQE handle the
  * physical planning (broadcast vs shuffle, skew splitting) for free.
  *
  * Triangle counting is the worst-case skew magnet: a naive wedge join
  * fans out quadratically on hub vertices. The classical fix (Cohen
  * 2009; Suri & Vassilvitskii "Counting triangles and the curse of the
  * last reducer", WWW'11) is DEGREE ORIENTATION — direct every edge from
  * its lower-(degree, id) endpoint to its higher one, then enumerate
  * wedges only out of each vertex's oriented out-neighborhood. Max
  * oriented out-degree is O(√E), so total wedge volume is O(E^1.5)
  * regardless of hub skew, and every triangle is produced exactly once.
  */
object Graph {

  /** Distinct undirected co-occurrence edges `(src < dst by id)` from a
    * (group, item) membership table, with the co-occurrence SUPPORT
    * (number of shared groups) per edge: items sharing a group are
    * adjacent. The within-group pair fan-out is a self-equi-join on the
    * group key — quadratic only in per-group membership (bounded by the
    * data model, e.g. parts-per-order), never in table size. Support is
    * the frequent-itemset noise gate: in a transactional graph the
    * once-co-occurring pairs are random noise that grows linearly with
    * data volume, while support-thresholded edges track the true
    * affinity structure (measured here: 1.2M raw edges -> 3.6k at
    * support >= 2 on the sf0.1 part graph).
    */
  def weightedCooccurrenceEdges(
      df: DataFrame, groupCol: String, itemCol: String): DataFrame = {
    val m = df.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct()
    m.as("a").join(m.as("b"),
        col("a.g") === col("b.g") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("src"), col("b.i").as("dst"))
      .agg(count(lit(1)).as("support"))
  }

  /** Re-orient id-oriented edges by (degree, id): each undirected edge
    * points from its lower-(deg, id) endpoint `u` to the higher `v`.
    * Keeps `v`'s (deg, id) key so the wedge join can order endpoints
    * without re-joining degrees. Output: (u, v, vkey struct).
    */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("src").as("vx"))
      .unionAll(edges.select(col("dst").as("vx")))
      .groupBy("vx").agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("vx").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("vx").as("dst"), col("deg").as("ddeg")), "dst")
      .select(
        when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")),
          col("src")).otherwise(col("dst")).as("u"),
        when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")),
          struct(col("ddeg").as("k1"), col("dst").as("k2")))
          .otherwise(struct(col("sdeg").as("k1"), col("src").as("k2")))
          .as("vkey"))
      .select(col("u"), col("vkey.k2").as("v"), col("vkey"))
  }

  /** All triangles of the graph whose degree-oriented edges are `o`
    * ([[orientByDegree]]), each exactly once, as corner rows (a, b, c) —
    * order of corners within a row follows the degree orientation, so
    * treat them as a set. Three hash equi-joins: wedges out of each
    * vertex's oriented out-neighborhood (ordered pairs, so no wedge
    * repeats), closed by an edge lookup. With degree orientation the
    * wedge volume is O(E^1.5) — the hub-vertex fan-out a raw
    * id-orientation suffers is structurally impossible here.
    *
    * The oriented-edge frame appears THREE times in the plan (both
    * wedge sides and the closing lookup), so callers running repeatedly
    * should persist it (e.g. as a session artifact): against an
    * unpersisted input, AQE re-plans each subtree independently and the
    * orientation's shuffles run three times over.
    */
  def trianglesFromOriented(o: DataFrame): DataFrame = {
    val w = o.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.vkey") < col("e2.vkey"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    w.join(o.select(col("u").as("b"), col("v").as("c")).as("e3"),
        Seq("b", "c"))
      .select("a", "b", "c")
  }

  /** The doubled undirected adjacency every iterative operator here
    * walks: each edge in both directions as `(u, v)` with long ids,
    * plus the `carry` columns (e.g. SSSP's weight) copied onto both
    * directions, and duplicates dropped. Self-loops stay as one `(x, x)`
    * row. Callers cache it for their loop and release it before
    * returning.
    */
  private[graft] def adjacency(edges: DataFrame, src: String = "src", dst: String = "dst",
      carry: Seq[Column] = Nil): DataFrame = {
    def direction(from: String, to: String) = edges.select(
      Seq(col(from).cast("long").as("u"), col(to).cast("long").as("v")) ++ carry: _*)
    direction(src, dst).unionByName(direction(dst, src)).distinct()
  }

  /** The round loop of the iterative operators. `init` is checkpointed,
    * then each of up to `rounds` rounds computes `step(state, round)`
    * (`round` counts from 1), checkpoints it and releases the previous
    * round's checkpoint. Lineage is cut every round (`localCheckpoint`,
    * not `cache`): a round that reads its state twice doubles an uncut
    * plan per round, which goes exponential in plan size long before it
    * goes wrong in data. On a cluster with reliable storage,
    * `setCheckpointDir` + `.checkpoint()` is the fault-tolerant
    * equivalent. `stop` sees each new state (connected components counts
    * its changed labels) and ends the loop when it answers true.
    *
    * The returned frame is the last checkpoint (the initial one when no
    * round runs) and is never released here: the caller releases it
    * with `ColumnBridge.unpersistCheckpoint` once consumed.
    * `Dataset.unpersist` is a no-op on a checkpoint, whose storage
    * lives on the RDD behind the plan's `LogicalRDD` leaf.
    */
  private[graft] def iterate(init: DataFrame, rounds: Int,
      stop: DataFrame => Boolean = _ => false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init.localCheckpoint(true)
    var round = 1
    var stopped = false
    while (round <= rounds && !stopped) {
      val next = step(state, round).localCheckpoint(true)
      stopped = stop(next)
      ColumnBridge.unpersistCheckpoint(state)
      state = next
      round += 1
    }
    state
  }

  /** Fixed-round k-core peeling over an UNDIRECTED edge list: each round
    * recomputes degrees within the surviving vertex set and drops
    * vertices below `k`. Peeling is monotone (the survivor set only
    * shrinks), so after enough rounds the set is the exact k-core; a
    * FIXED round count (rather than a convergence loop) is the
    * oracle-friendly form — an external engine unrolling the same
    * recurrence agrees exactly whether or not round R reached the
    * fixpoint, because both sides report the same round-R state.
    *
    * Shape per round: two semi-joins of the edge list against the
    * (shrinking) survivor set + one map-side-combined degree count —
    * all equi-joins on vertex ids, run by [[iterate]]; the doubled
    * adjacency is cached for the loop and released before returning.
    * Output: (v, core_deg) for round-R survivors, with their degree
    * inside the surviving subgraph. It reads the round-R survivor
    * checkpoint: release it with `ColumnBridge.unpersistCheckpoint`
    * once consumed.
    */
  def kCoreFixed(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val adj = adjacency(edges).cache()
    def degreesWithin(vs: DataFrame): DataFrame = adj
      .join(vs, col("u") === col("x"), "left_semi")
      .join(vs.select(col("x").as("y")), col("v") === col("y"), "left_semi")
      .groupBy("u").agg(count(lit(1)).as("core_deg"))
    val verts = iterate(adj.select(col("u").as("x")).distinct(), rounds) { (vs, _) =>
      degreesWithin(vs).filter(col("core_deg") >= k).select(col("u").as("x"))
    }
    val out = degreesWithin(verts).select(col("u").as("v"), col("core_deg"))
    adj.unpersist(false)
    out
  }

  /** Fixed-iteration PageRank over an UNDIRECTED edge list, in scaled
    * INTEGER arithmetic: ranks are longs scaled by `scale`, each edge
    * contribution is `(rank * damp) div (100 * outdeg)` (one integer
    * truncation per edge, identical on any engine), and the per-vertex
    * update sums those longs — order-independent, so the result is
    * bit-exact regardless of partitioning, and an external SQL engine
    * unrolling the same recurrence agrees hash-for-hash. Floating-point
    * PageRank cannot promise either (summation order varies per run).
    *
    * This is [[personalizedPageRankScaled]] with every vertex a seed:
    * the teleport base then reaches every vertex, and undirected
    * doubling gives every vertex out-edges, so no dangling-mass
    * redistribution term is needed. An empty graph has no seed and
    * throws `IllegalArgumentException`.
    *
    * Output: (v, rank_c) with sum(rank_c) ~= scale (minus truncation
    * dust). Fixed `iters` rather than convergence detection: this is the
    * oracle-friendly form, and on power-law graphs a handful of rounds
    * already orders hubs correctly.
    */
  def pageRankScaled(
      edges: DataFrame,
      iters: Int = 5,
      scale: Long = 1000000000000L,
      damp: Int = 85): DataFrame =
    personalizedPageRankScaled(edges,
      edges.select(col("src").as("v")).unionByName(edges.select(col("dst").as("v"))),
      iters, scale, damp)

  /** Personalized PageRank (topic-sensitive; Haveliwala 2002) in exact
    * scaled-integer arithmetic, with the teleport mass restricted to the
    * SEED set: rank(v) = [v ∈ S]·(15·scale)/(100·|S|) +
    * Σ_in (rank·damp) div (100·od). Rank frames stay SPARSE — only
    * vertices mass has reached carry a row (a BFS-like expansion from
    * the seeds), so the per-round cost is proportional to the reached
    * subgraph, not the whole graph.
    *
    * Shape per iteration: one hash equi-join (adjacency x ranks) + one
    * map-side-combined aggregation — the textbook distributed PageRank
    * step, run by [[iterate]]. The adjacency (with its outdegree
    * column) and the seeds are cached for the loop and released before
    * returning. Output: (v, rank_c), the last round's checkpoint:
    * release it with `ColumnBridge.unpersistCheckpoint` once consumed.
    */
  def personalizedPageRankScaled(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 4,
      scale: Long = 1000000000000L,
      damp: Int = 85): DataFrame = {
    val sd = seeds.select(col("v").cast("long").as("v")).distinct().cache()
    // an RDD count is one job; Dataset.count plans an aggregation with a shuffle
    val nSeeds = sd.rdd.count()
    if (nSeeds == 0) {
      sd.unpersist(false)
      throw new IllegalArgumentException("personalizedPageRankScaled: empty seed set")
    }
    // outdegree as a window over the adjacency: one shuffle on u, where
    // a join with a per-u count takes two
    val adjDeg = adjacency(edges)
      .withColumn("od", count(lit(1)).over(Window.partitionBy("u"))).cache()
    val baseDf = sd.select(col("v"), lit((15L * scale) / (100L * nSeeds)).as("c"))
    val ranks = iterate(sd.select(col("v"), lit(scale / nSeeds).as("rank_c")), iters) {
      (ranks, _) =>
        adjDeg
          .join(ranks.select(col("v").as("u"), col("rank_c").as("rc")), Seq("u"))
          .select(col("v"), expr(s"(rc * $damp) div (100 * od)").as("c"))
          .unionByName(baseDf)
          .groupBy("v").agg(sum(col("c")).as("rank_c"))
    }
    adjDeg.unpersist(false)
    sd.unpersist(false)
    ranks
  }

  /** Fixed-round synchronous label propagation (Raghavan et al. 2007)
    * over an UNDIRECTED edge list, made fully deterministic: every
    * vertex starts labeled with its own id, and each round every vertex
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken toward the SMALLEST label. Both the frequency count and
    * the (count desc, label asc) argmax are order-independent, so the
    * result is engine-exact and an external SQL unroll of the same
    * recurrence agrees hash-for-hash — the usual LPA nondeterminism
    * (random vertex order, random tie-break) is exactly what's removed.
    *
    * Shape per round: one hash equi-join (adjacency x labels) + one
    * map-side-combined count + one argmax aggregation — same cost class
    * as a PageRank step, O(E) per round with no shuffle beyond the two
    * aggregations, run by [[iterate]]. Fixed `rounds` rather than
    * convergence: the oracle-friendly form; on community-structured
    * graphs a few synchronous rounds already coalesce dense blocks onto
    * their minimum member id.
    *
    * Output: (v, label) — vertices sharing a label are one detected
    * community. It is the last round's checkpoint: release it with
    * `ColumnBridge.unpersistCheckpoint` once consumed.
    */
  def labelPropagationFixed(edges: DataFrame, rounds: Int): DataFrame = {
    val adj = adjacency(edges).cache()
    val init = adj.select(col("u").as("v")).distinct().select(col("v"), col("v").as("label"))
    val labels = iterate(init, rounds) { (labels, _) =>
      adj
        .join(labels.select(col("v").as("nv"), col("label")), col("v") === col("nv"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        // argmax via lexicographic max over (count, -label): largest
        // count first, then smallest label — one aggregation, no window
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("v"), (-col("m.nl")).as("label"))
    }
    adj.unpersist(false)
    labels
  }

  /** Multi-source breadth-first distances over an UNDIRECTED edge list:
    * every seed starts at distance 0 and each round expands the frontier
    * one hop, keeping the FIRST (= minimum) distance per vertex. This is
    * [[bfsPerSeed]] with one search shared by all seeds. Exact and
    * engine-deterministic by construction — hop counts are integers and
    * the frontier recurrence is order-independent, so a fixed SQL unroll
    * of the same rounds agrees hash-for-hash. Unreached vertices are
    * simply absent (no +inf sentinel to disagree on).
    *
    * Output: (v, dist) for every vertex within `maxDepth` hops of a seed;
    * at `maxDepth <= 0`, the seeds at distance 0. It is the last round's
    * checkpoint: release it with `ColumnBridge.unpersistCheckpoint` once
    * consumed.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    bfsLabeled(edges, seeds.select(lit(0L).as("seed"), col("v")), maxDepth).drop("seed")

  /** Per-seed BFS out to `maxDepth`: each seed runs its own labeled
    * search — the landmark pass behind sampled centrality measures.
    * Returns (seed, v, dist) with dist 0..maxDepth, the last round's
    * checkpoint (release it with `ColumnBridge.unpersistCheckpoint` once
    * consumed).
    */
  def bfsPerSeed(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    bfsLabeled(edges, seeds.select(col("v").as("seed"), col("v")), maxDepth)

  /** BFS over (seed, v) start rows: each seed label is its own search.
    * Round d expands the label's frontier — its rows at dist d-1, not
    * the whole visited set — by one adjacency equi-join on the frontier
    * vertex, and a keyed anti-join against that label's visited rows
    * keeps only first visits, so cost per round is O(Σ_labels
    * frontier-boundary), never labels × |E| scans. The frames stay
    * skinny (label, vertex id, int) while the adjacency is scanned once
    * per round from cache.
    */
  private def bfsLabeled(edges: DataFrame, start: DataFrame, maxDepth: Int): DataFrame = {
    val adj = adjacency(edges).cache()
    val init = start.select(col("seed").cast("long").as("seed"),
      col("v").cast("long").as("v"), lit(0).as("dist")).distinct()
    val visited = iterate(init, maxDepth) { (visited, d) =>
      val next = adj
        .join(visited.filter(col("dist") === d - 1).select(col("seed"), col("v").as("u")),
          Seq("u"))
        .select(col("seed"), col("v")).distinct()
        .join(visited.select(col("seed"), col("v")), Seq("seed", "v"), "left_anti")
        .select(col("seed"), col("v"), lit(d).as("dist"))
      visited.unionByName(next)
    }
    adj.unpersist(false)
    visited
  }

  /** Fixed-round Bellman-Ford single/multi-source shortest paths over a
    * WEIGHTED undirected edge list (`src`, `dst`, integer `w`) — the
    * min-plus companion to [[bfsDistances]]: each round relaxes every
    * edge out of the currently-reached set and keeps the per-vertex
    * minimum tentative distance. All-integer arithmetic, and min over
    * (dist, then nothing) is order-independent, so a fixed unroll of the
    * recurrence d_k(v) = min(d_{k-1}(v), min_u(d_{k-1}(u) + w(u,v)))
    * agrees with any SQL engine exactly.
    *
    * Shape per round: one hash equi-join (weighted adjacency x reached
    * set) + one map-side-combined min aggregation — O(E) per round, the
    * classic frontier-free Bellman-Ford step that a 1000-executor
    * cluster runs as two shuffles, run by [[iterate]]. `rounds` bounds
    * path LENGTH (hops), the oracle-friendly form; paths longer than
    * `rounds` hops keep their best bounded-length distance, exactly as
    * the unrolled oracle computes.
    *
    * Output: (v, dist_c) for every vertex reachable within `rounds`
    * hops, the last round's checkpoint (release it with
    * `ColumnBridge.unpersistCheckpoint` once consumed).
    */
  def ssspScaled(weightedEdges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val adj = adjacency(weightedEdges, carry = Seq(col("w").cast("long").as("w"))).cache()
    val init = seeds.select(col("v").cast("long").as("v"), lit(0L).as("dist_c")).distinct()
    val dist = iterate(init, rounds) { (dist, _) =>
      val relaxed = adj
        .join(dist.select(col("v").as("u"), col("dist_c").as("du")), Seq("u"))
        .select(col("v"), (col("du") + col("w")).as("dist_c"))
      dist.unionByName(relaxed).groupBy("v").agg(min(col("dist_c")).as("dist_c"))
    }
    adj.unpersist(false)
    dist
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge list,
    * in exact scaled-integer arithmetic so the result is
    * engine-deterministic: authority(v) = Σ hub over in-neighbors,
    * hub(v) = Σ authority over out-neighbors, each half-round
    * renormalized by an arithmetic right shift that brings the max
    * score under 2^32 (shift count = bit length of the max — exact
    * floor-log2, no floats; the gramPowerTopEig renorm). Sums stay
    * < 2^32·maxdeg « 2^63. Vertices with no in-(out-)edges simply have
    * no authority (hub) row — frames stay sparse.
    *
    * Shape per round: two equi-joins + two map-side-combined sums over
    * the edge grain — O(E) per round, every stage keyed. Lineage is
    * localCheckpoint-cut per half-round (the renorm references its
    * input twice; an uncut loop doubles the plan per round — see
    * [[iterate]], which this loop does not use because each round
    * carries two frames).
    *
    * Output: (v, auth_c, hub_c) with zero-filled absences.
    */
  def hitsScaled(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "hitsScaled: need at least one iteration")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct().cache()
    def bitlen(c: org.apache.spark.sql.Column) = length(bin(c)).cast("int")
    def renorm(raw: DataFrame, vCol: String, sCol: String): DataFrame = {
      val mx = raw.agg(max(abs(col("raw"))).as("m"))
        .select(greatest(bitlen(col("m")) - 32, lit(0)).as("sh"))
      val sh = ColumnBridge.scalar(mx)
      raw.select(col("v").as(vCol),
        call_function("shiftright", col("raw"), sh.cast("int")).as(sCol))
    }
    var h = e.select(col("src").as("v")).distinct()
      .select(col("v"), lit(1L).as("h")).localCheckpoint(true)
    var a: DataFrame = null
    var i = 0
    while (i < iters) {
      val rawA = e.join(h.select(col("v").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("v")).agg(sum(col("h")).as("raw"))
      val a2 = renorm(rawA, "v", "a").localCheckpoint(true)
      if (a != null) ColumnBridge.unpersistCheckpoint(a)
      a = a2
      val rawH = e.join(a.select(col("v").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("v")).agg(sum(col("a")).as("raw"))
      val h2 = renorm(rawH, "v", "h").localCheckpoint(true)
      ColumnBridge.unpersistCheckpoint(h)
      h = h2
      i += 1
    }
    val out = a.select(col("v"), col("a").as("auth_c"))
      .join(h.select(col("v"), col("h").as("hub_c")), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("auth_c"), lit(0L)).as("auth_c"),
        coalesce(col("hub_c"), lit(0L)).as("hub_c"))
    e.unpersist(false)
    out
  }
}
