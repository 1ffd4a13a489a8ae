package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Ground-truth and skew-shape invariants for the graph primitives:
  * the degree-oriented triangle enumeration must produce each triangle
  * exactly once (checked against a hand-countable graph and against the
  * naive id-oriented enumeration on real data), and orientation must
  * bound the oriented out-degree by the wedge-volume argument it exists
  * for.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  // K4 on {1,2,3,4} (4 triangles) + pendant edge 4-5 (no new triangle)
  // + disjoint triangle {6,7,8}: 5 triangles total.
  private def fixtureEdges = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (6L, 7L), (6L, 8L), (7L, 8L)).toDF("src", "dst")

  test("triangles: exact count and corner sets on a hand-countable graph") {
    val tri = Graph.trianglesFromOriented(Graph.orientByDegree(fixtureEdges))
      .select(array_sort(array($"a", $"b", $"c")).as("t"))
      .collect().map(_.getSeq[Long](0)).sortBy(_.mkString(","))
    assert(tri.length == 5)
    assert(tri.map(_.toSet).toSet == Set(
      Set(1L, 2L, 3L), Set(1L, 2L, 4L), Set(1L, 3L, 4L), Set(2L, 3L, 4L),
      Set(6L, 7L, 8L)))
  }

  test("degree orientation agrees with naive id-oriented enumeration on real data") {
    val edges = Graph.weightedCooccurrenceEdges(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey")
      .select("src", "dst")
    val oriented = Graph.trianglesFromOriented(Graph.orientByDegree(edges))
      .select(array_sort(array($"a", $"b", $"c")).as("t"))
    // naive: three-way join on id-oriented edges (src < dst already)
    val e = edges
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(e.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(array(col("e1.src"), col("e1.dst"), col("e2.dst")).as("t"))
    assert(oriented.count() == naive.count())
    assert(oriented.exceptAll(naive.select(array_sort($"t").as("t"))).count() == 0)
  }

  test("kCoreFixed peels to the exact core on the fixture graph") {
    // 3-core: K4 {1,2,3,4} survives with in-core degree 3; pendant 5
    // and the lone triangle {6,7,8} (degree 2 each) are peeled
    val c3 = Graph.kCoreFixed(fixtureEdges, k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c3.keySet == Set(1L, 2L, 3L, 4L))
    assert(c3.values.forall(_ == 3L))
    // 2-core: both the K4 and the triangle survive; only the pendant
    // edge is peeled, so vertex 4's in-core degree drops 4 -> 3
    val c2 = Graph.kCoreFixed(fixtureEdges, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2.keySet == Set(1L, 2L, 3L, 4L, 6L, 7L, 8L))
    assert(c2(4L) == 3L && c2(6L) == 2L)
  }

  test("pageRankScaled matches a single-threaded reference on the fixture graph") {
    val SCALE = 1000000000000L
    val got = Graph.pageRankScaled(fixtureEdges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: same integer recurrence, computed in plain Scala
    val und = fixtureEdges.collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .distinct
    val adj = und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val n = adj.size
    val base = 15L * SCALE / (100L * n)
    var rank = adj.keys.map(_ -> SCALE / n).toMap
    for (_ <- 1 to 5)
      rank = adj.keys.map { v =>
        v -> (base + und.filter(_._2 == v)
          .map { case (u, _) => rank(u) * 85L / (100L * adj(u).size) }.sum)
      }.toMap
    assert(got == rank)
    // rank mass is conserved up to per-vertex truncation dust
    val mass = got.values.sum
    assert(mass <= SCALE && mass >= SCALE - 100L * n)
    // the K4 hub (vertex 4, degree 4) outranks the pendant leaf (vertex 5)
    assert(got(4L) > got(5L))
  }

  test("labelPropagationFixed converges to the two communities on the fixture") {
    // hand-computed 3-round synchronous LPA with smallest-label
    // tie-break: K4+pendant coalesces onto label 1, the disjoint
    // triangle onto label 6 (round 1 passes each vertex its smallest
    // neighbor id; round 2 floods 1 and 6; round 3 is stable)
    val got = Graph.labelPropagationFixed(fixtureEdges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 6L))
    // determinism under partitioning: a reshuffled edge list gives the
    // bit-same labels (the argmax is order-independent by construction)
    val shuffled = Graph.labelPropagationFixed(fixtureEdges.repartition(7), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == got)
  }

  test("bfs: exact hop distances on a hand-countable graph, depth-capped") {
    // from seed 5, the fixture is a path into K4: 5 -(1)- 4 -(2)- {1,2,3};
    // the {6,7,8} triangle is unreachable and must be absent
    val seeds = Seq(5L).toDF("v")
    val got = Graph.bfsDistances(fixtureEdges, seeds, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(5L -> 0, 4L -> 1, 1L -> 2, 2L -> 2, 3L -> 2))
    // depth 1 truncates the expansion, not the seeds
    val d1 = Graph.bfsDistances(fixtureEdges, seeds, maxDepth = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d1 == Map(5L -> 0, 4L -> 1))
    // multi-source: nearest seed wins; overlapping frontiers never
    // produce duplicate vertices
    val multi = Graph.bfsDistances(fixtureEdges, Seq(5L, 6L).toDF("v"), maxDepth = 3)
    assert(multi.groupBy($"v").count().filter($"count" > 1).count() == 0)
    val m = multi.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m(6L) == 0 && m(7L) == 1 && m(8L) == 1 && m(4L) == 1 && m(1L) == 2)
    // no round at all: both operators return the seeds at distance 0
    for (depth <- Seq(0, -1)) {
      val two = Seq(5L, 6L).toDF("v")
      val d = Graph.bfsDistances(fixtureEdges, two, maxDepth = depth)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toSet
      assert(d == Set(5L -> 0, 6L -> 0), s"bfsDistances maxDepth=$depth")
      val p = Graph.bfsPerSeed(fixtureEdges, two, maxDepth = depth)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(p == Set((5L, 5L, 0), (6L, 6L, 0)), s"bfsPerSeed maxDepth=$depth")
    }
  }

  test("sssp: weighted min-plus distances prefer the cheap long way round") {
    // square 1-2-3-4-1 with one heavy edge: 1->4 direct costs 10, but
    // 1-2-3-4 costs 3 — Bellman-Ford must find the 3-hop path
    val w = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 10L))
      .toDF("src", "dst", "w")
    val got = Graph.ssspScaled(w, Seq(1L).toDF("v"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // with rounds = 1 only direct edges relax: 4 keeps the heavy edge
    val r1 = Graph.ssspScaled(w, Seq(1L).toDF("v"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
  }

  test("personalized pagerank: mass stays on the seed-reachable subgraph, seeds keep the teleport floor") {
    // path 1-2-3-4-5 plus isolated edge 8-9: seeding at 1 must never
    // put mass on 8 or 9, and vertex 5 (4 hops out) is reached at
    // iters=4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val got = Graph.personalizedPageRankScaled(
      edges, Seq(1L).toDF("v"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got.values.forall(_ > 0L))
    // the seed receives the full teleport base every round
    val base = (15L * 1000000000000L) / 100L
    assert(got(1L) >= base)
    // exact-integer driver mirror of the recurrence
    val adj = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val od = adj.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    var r = Map(1L -> 1000000000000L)
    for (_ <- 1 to 4) {
      val flowed = adj.filter(e => r.contains(e._1))
        .groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => (r(e._1) * 85) / (100 * od(e._1))).sum }
      r = (flowed.keySet + 1L).map { v =>
        v -> (flowed.getOrElse(v, 0L) + (if (v == 1L) base else 0L))
      }.toMap
    }
    assert(got == r)
  }

  test("hits: matches a driver-side exact-integer mirror of the recurrence") {
    // small DAG with a clear authority (3: in from 1,2,4) and hub (1:
    // out to 2,3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L), (3L, 5L))
    def mirror(iters: Int): (Map[Long, Long], Map[Long, Long]) = {
      def renorm(m: Map[Long, Long]): Map[Long, Long] = {
        val mx = m.values.max
        val sh = math.max(64 - java.lang.Long.numberOfLeadingZeros(mx) - 32, 0)
        m.map { case (k, v) => k -> (v >> sh) }
      }
      var h = edges.map(_._1).distinct.map(_ -> 1L).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        a = renorm(edges.filter(e => h.contains(e._1))
          .groupBy(_._2).map { case (v, es) => v -> es.map(e => h(e._1)).sum })
        h = renorm(edges.filter(e => a.contains(e._2))
          .groupBy(_._1).map { case (v, es) => v -> es.map(e => a(e._2)).sum })
      }
      (a, h)
    }
    val (ea, eh) = mirror(4)
    val got = Graph.hitsScaled(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gotA = got.map(t => t._1 -> t._2).toMap
    val gotH = got.map(t => t._1 -> t._3).toMap
    // every vertex present, absences zero-filled
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
    ea.foreach { case (v, x) => assert(gotA(v) == x, s"auth v=$v") }
    eh.foreach { case (v, x) => assert(gotH(v) == x, s"hub v=$v") }
    assert(gotA(1L) == 0L && gotA(4L) == 0L && gotH(5L) == 0L)
    // 3 is the top authority; 1 the top hub
    assert(gotA.maxBy(t => (t._2, -t._1))._1 == 3L)
    assert(gotH.maxBy(t => (t._2, -t._1))._1 == 1L)
  }

  test("orientation sends every edge from its lower (deg,id) endpoint") {
    val o = Graph.orientByDegree(fixtureEdges)
    // vertex 4 has degree 4 (max in K4+pendant); vertex 5 degree 1 —
    // the pendant edge must orient 5 -> 4
    val pendant = o.filter($"v" === 4L && $"u" === 5L).count()
    assert(pendant == 1L)
    // oriented out-degree never exceeds the undirected degree, and the
    // K4 hub (vertex 4, deg 4) keeps out-degree 0 within K4: every K4
    // neighbor has smaller (deg,id)... except none — 1,2,3 have deg 3
    // < 4, so all three K4 edges at vertex 4 point INTO 4
    assert(o.filter($"u" === 4L).count() == 0)
  }
}
