package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.dedup.Dedup

/** The iterative graph operators, which share [[Graph.adjacency]] and the
  * round driver [[Graph.iterate]], against the hand-written loops they
  * replaced, rebuilt here as the reference. Every output must agree bit
  * for bit on fixed-seed graphs; each operator must run no more Spark
  * jobs than its reference and leave nothing persisted once its output
  * is released.
  */
class GraphRoundsSpec extends SparkSpec {

  import spark.implicits._

  // ---- the hand-written loops, as reference ------------------------------

  private object Reference {
    private def unpersist(df: DataFrame): Unit = ColumnBridge.unpersistCheckpoint(df)

    private def doubled(edges: DataFrame): DataFrame =
      edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
        .unionByName(edges.select(col("dst").cast("long").as("u"), col("src").cast("long").as("v")))
        .distinct()

    def kCoreFixed(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
      val adj = doubled(edges).cache()
      var verts = adj.select(col("u").as("x")).distinct().localCheckpoint(true)
      def degreesWithin(vs: DataFrame): DataFrame = adj
        .join(vs, col("u") === col("x"), "left_semi")
        .join(vs.select(col("x").as("y")), col("v") === col("y"), "left_semi")
        .groupBy("u").agg(count(lit(1)).as("core_deg"))
      var i = 0
      while (i < rounds) {
        val next = degreesWithin(verts)
          .filter(col("core_deg") >= k)
          .select(col("u").as("x"))
          .localCheckpoint(true)
        unpersist(verts)
        verts = next
        i += 1
      }
      val out = degreesWithin(verts).select(col("u").as("v"), col("core_deg"))
      adj.unpersist(false)
      out
    }

    def pageRankScaled(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
        damp: Int = 85): DataFrame = {
      val adj = doubled(edges)
      val deg = adj.groupBy("u").agg(count(lit(1)).as("od"))
      val adjDeg = adj.join(deg, Seq("u")).cache()
      val n = adjDeg.select(col("u")).distinct().count()
      require(n > 0, "pageRankScaled: empty graph")
      val base = (15L * scale) / (100L * n)
      var ranks = adjDeg.select(col("u").as("v")).distinct()
        .select(col("v"), lit(scale / n).as("rank_c"))
        .localCheckpoint(true)
      var i = 0
      while (i < iters) {
        val next = adjDeg
          .join(ranks.select(col("v").as("u"), col("rank_c").as("rc")), Seq("u"))
          .select(col("v"), expr(s"(rc * $damp) div (100 * od)").as("c"))
          .groupBy("v").agg((sum(col("c")) + lit(base)).as("rank_c"))
          .localCheckpoint(true)
        unpersist(ranks)
        ranks = next
        i += 1
      }
      adjDeg.unpersist(false)
      ranks
    }

    def personalizedPageRankScaled(edges: DataFrame, seeds: DataFrame, iters: Int,
        scale: Long = 1000000000000L, damp: Int = 85): DataFrame = {
      val adj = doubled(edges)
      val deg = adj.groupBy("u").agg(count(lit(1)).as("od"))
      val adjDeg = adj.join(deg, Seq("u")).cache()
      val sd = seeds.select(col("v").cast("long").as("v")).distinct().cache()
      val nSeeds = sd.count()
      require(nSeeds > 0, "personalizedPageRankScaled: empty seed set")
      val base = (15L * scale) / (100L * nSeeds)
      val baseDf = sd.select(col("v"), lit(base).as("c"))
      var ranks = sd.select(col("v"), lit(scale / nSeeds).as("rank_c"))
        .localCheckpoint(true)
      var i = 0
      while (i < iters) {
        val contrib = adjDeg
          .join(ranks.select(col("v").as("u"), col("rank_c").as("rc")), Seq("u"))
          .select(col("v"), expr(s"(rc * $damp) div (100 * od)").as("c"))
        val next = contrib.unionByName(baseDf)
          .groupBy("v").agg(sum(col("c")).as("rank_c"))
          .localCheckpoint(true)
        unpersist(ranks)
        ranks = next
        i += 1
      }
      adjDeg.unpersist(false)
      sd.unpersist(false)
      ranks
    }

    def labelPropagationFixed(edges: DataFrame, rounds: Int): DataFrame = {
      val adj = doubled(edges).cache()
      var labels = adj.select(col("u").as("v")).distinct()
        .select(col("v"), col("v").as("label"))
        .localCheckpoint(true)
      var i = 0
      while (i < rounds) {
        val next = adj
          .join(labels.select(col("v").as("nv"), col("label")), col("v") === col("nv"))
          .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("u").as("v"), (-col("m.nl")).as("label"))
          .localCheckpoint(true)
        unpersist(labels)
        labels = next
        i += 1
      }
      adj.unpersist(false)
      labels
    }

    // Both BFS loops fail at maxDepth <= 0: frontier and visited are one
    // frame, and the closing release frees the frame they return.
    def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
      val adj = doubled(edges).cache()
      var visited = seeds.select(col("v").cast("long").as("v"), lit(0).as("dist"))
        .distinct().localCheckpoint(true)
      var frontier = visited
      var d = 1
      while (d <= maxDepth) {
        val next = adj
          .join(frontier.select(col("v").as("u")), Seq("u"))
          .select(col("v")).distinct()
          .join(visited.select(col("v")), Seq("v"), "left_anti")
          .select(col("v"), lit(d).as("dist"))
          .localCheckpoint(true)
        val grown = visited.unionByName(next).localCheckpoint(true)
        unpersist(frontier)
        if (d > 1) unpersist(visited)
        frontier = next
        visited = grown
        d += 1
      }
      unpersist(frontier)
      adj.unpersist(false)
      visited
    }

    def bfsPerSeed(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
      val adj = doubled(edges).cache()
      var visited = seeds.select(col("v").cast("long").as("seed"),
          col("v").cast("long").as("v"), lit(0).as("dist"))
        .distinct().localCheckpoint(true)
      var frontier = visited
      var d = 1
      while (d <= maxDepth) {
        val next = adj
          .join(frontier.select(col("seed"), col("v").as("u")), Seq("u"))
          .select(col("seed"), col("v")).distinct()
          .join(visited.select(col("seed"), col("v")), Seq("seed", "v"), "left_anti")
          .select(col("seed"), col("v"), lit(d).as("dist"))
          .localCheckpoint(true)
        val grown = visited.unionByName(next).localCheckpoint(true)
        unpersist(frontier)
        if (d > 1) unpersist(visited)
        frontier = next
        visited = grown
        d += 1
      }
      unpersist(frontier)
      adj.unpersist(false)
      visited
    }

    def ssspScaled(weightedEdges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
      val adj = weightedEdges
        .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"),
          col("w").cast("long").as("w"))
        .unionByName(weightedEdges
          .select(col("dst").cast("long").as("u"), col("src").cast("long").as("v"),
            col("w").cast("long").as("w")))
        .distinct().cache()
      var dist = seeds.select(col("v").cast("long").as("v"), lit(0L).as("dist_c"))
        .distinct().localCheckpoint(true)
      var i = 0
      while (i < rounds) {
        val relaxed = adj
          .join(dist.select(col("v").as("u"), col("dist_c").as("du")), Seq("u"))
          .select(col("v"), (col("du") + col("w")).as("dist_c"))
        val next = dist.unionByName(relaxed)
          .groupBy("v").agg(min(col("dist_c")).as("dist_c"))
          .localCheckpoint(true)
        unpersist(dist)
        dist = next
        i += 1
      }
      adj.unpersist(false)
      dist
    }

    def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
        maxRounds: Int): DataFrame = {
      val edges = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .unionByName(pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
        .distinct().cache()
      var labels = edges.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u").as("node"), least(col("u"), col("__mn")).as("label"))
        .localCheckpoint(true)
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        val base = labels.select(col("node"), col("label"))
        val nbr = edges
          .join(base.select(col("node").as("v"), col("label").as("vl")), Seq("v"))
          .groupBy(col("u").as("node")).agg(min(col("vl")).as("nl"))
        val stepped = base.join(nbr, Seq("node"), "left")
          .select(col("node"), col("label").as("__old"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        val next = stepped
          .join(stepped.select(col("node").as("label"), col("label").as("__ll")),
            Seq("label"), "left")
          .select(col("node"), col("__old"),
            least(col("label"), coalesce(col("__ll"), col("label"))).as("label"))
          .localCheckpoint(true)
        val changed = next.filter(col("label") =!= col("__old")).count()
        unpersist(labels)
        labels = next
        converged = changed == 0L
        round += 1
      }
      edges.unpersist(false)
      labels.select(col("node"), col("label"))
    }
  }

  // ---- fixed-seed graphs --------------------------------------------------

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Weighted edges over three disconnected parts, with self-loops, and
    * every edge possibly repeated or reversed. Weights 1–2 make many
    * equal-weight paths; small dense parts make LPA count ties.
    */
  private val weightedGraph: Gen[Seq[(Long, Long, Long)]] = {
    def part(lo: Long, hi: Long): Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(4, 12)
      es <- Gen.listOfN(n, for {
        a <- Gen.choose(lo, hi)
        b <- Gen.frequency(1 -> Gen.const(a), 6 -> Gen.choose(lo, hi))
        w <- Gen.choose(1L, 2L)
      } yield (a, b, w))
    } yield es
    // a diamond from seed 40: two equal-weight paths to 43, whose two
    // neighbors tie in LPA
    val diamond = Seq((40L, 41L, 1L), (40L, 42L, 1L), (41L, 43L, 1L), (42L, 43L, 1L))
    for {
      a <- part(1L, 8L)
      b <- part(20L, 25L)
      flips <- Gen.listOfN(a.size + b.size + diamond.size, Gen.choose(0, 3))
    } yield (a ++ b ++ diamond).zip(flips).flatMap {
      case ((x, y, w), 0) => Seq((x, y, w), (x, y, w))
      case ((x, y, w), 1) => Seq((x, y, w), (y, x, w))
      case ((x, y, w), 2) => Seq((y, x, w))
      case (e, _) => Seq(e)
    }
  }

  private val graphSeeds = Seq(1L, 2L, 3L)
  private val roundCounts = Seq(0, 1, 5)
  /** 99 is on no edge. */
  private val seedVertices = Seq(1L, 3L, 21L, 40L, 99L)

  private def weighted(seed: Long): DataFrame =
    sample(weightedGraph, seed).toDF("src", "dst", "w")
  private def edges(seed: Long): DataFrame = weighted(seed).select("src", "dst")
  private def seeds: DataFrame = seedVertices.toDF("v")

  /** Rows in a fixed order with every value exact (longs and ints). */
  private def bits(df: DataFrame): (String, Seq[Row]) =
    (df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
      df.collect().toSeq.sortBy(_.toString))

  private def assertSame(got: DataFrame, ref: DataFrame): Unit = {
    val (gs, gr) = bits(got)
    val (rs, rr) = bits(ref)
    assert(gs === rs)
    assert(gr === rr)
  }

  /** Every rewritten operator with its reference, at a round count. */
  private def cases(seed: Long, rounds: Int): Seq[(String, () => DataFrame, () => DataFrame)] = {
    val e = edges(seed)
    val w = weighted(seed)
    Seq(
      ("kCoreFixed k=2", () => Graph.kCoreFixed(e, 2, rounds),
        () => Reference.kCoreFixed(e, 2, rounds)),
      ("kCoreFixed k=3", () => Graph.kCoreFixed(e, 3, rounds),
        () => Reference.kCoreFixed(e, 3, rounds)),
      ("pageRankScaled", () => Graph.pageRankScaled(e, rounds),
        () => Reference.pageRankScaled(e, rounds)),
      ("personalizedPageRankScaled", () => Graph.personalizedPageRankScaled(e, seeds, rounds),
        () => Reference.personalizedPageRankScaled(e, seeds, rounds)),
      ("labelPropagationFixed", () => Graph.labelPropagationFixed(e, rounds),
        () => Reference.labelPropagationFixed(e, rounds)),
      ("bfsDistances", () => Graph.bfsDistances(e, seeds, rounds),
        () => Reference.bfsDistances(e, seeds, rounds)),
      ("bfsPerSeed", () => Graph.bfsPerSeed(e, seeds, rounds),
        () => Reference.bfsPerSeed(e, seeds, rounds)),
      ("ssspScaled", () => Graph.ssspScaled(w, seeds, rounds),
        () => Reference.ssspScaled(w, seeds, rounds)),
      ("connectedComponents", () => Dedup.connectedComponents(e, "src", "dst", rounds),
        () => Reference.connectedComponents(e, "src", "dst", rounds)))
  }

  for (seed <- graphSeeds; rounds <- roundCounts) {
    test(s"bit-exact vs the hand-written loops (graph seed $seed, rounds $rounds)") {
      cases(seed, rounds).foreach { case (name, got, ref) =>
        withClue(s"$name: ") {
          if (rounds == 0 && name.startsWith("bfs")) {
            // the reference loops fail here; no round means the seeds at 0
            val (_, rows) = bits(got())
            val expected = seedVertices.map(v =>
              if (name == "bfsPerSeed") Row(v, v, 0) else Row(v, 0))
            assert(rows === expected.sortBy(_.toString))
          } else assertSame(got(), ref())
        }
      }
    }
  }

  test("the graphs exercise self-loops, repeats, reversals, ties and a seed on no edge") {
    val all = graphSeeds.flatMap(s => sample(weightedGraph, s))
    assert(all.exists { case (a, b, _) => a == b })
    assert(all.diff(all.distinct).nonEmpty)
    assert(all.exists { case (a, b, w) => all.contains((b, a, w)) && a != b })
    val vertices = all.flatMap { case (a, b, _) => Seq(a, b) }.toSet
    assert(!vertices.contains(99L))
    // an LPA tie: 43's two neighbors carry equal counts in round 1
    val und = all.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }.distinct
    assert(und.filter(_._1 == 43L).map(_._2).toSet == Set(41L, 42L))
    // equal-weight paths: 43 is 2 from seed 40 through 41 and through 42
    assert(Seq(41L, 42L).forall(m => all.exists { case (a, b, w) =>
      w == 1L && Set(a, b) == Set(m, 43L) }))
  }

  test("an empty graph and an empty seed set still throw IllegalArgumentException") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    spark.catalog.clearCache()
    intercept[IllegalArgumentException](Graph.pageRankScaled(empty, 5))
    intercept[IllegalArgumentException](
      Graph.personalizedPageRankScaled(edges(1L), Seq.empty[Long].toDF("v"), 5))
    // and leave no cache behind
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("no operator runs more Spark jobs than its reference") {
    cases(1L, 5).foreach { case (name, got, ref) =>
      val r = sparkJobs(ref().collect())
      val g = sparkJobs(got().collect())
      info(s"$name: $g jobs (reference $r)")
      assert(g <= r, s"$name: $g jobs, reference $r")
    }
  }

  test("a released output leaves no adjacency and no round persisted") {
    val sc = spark.sparkContext
    cases(2L, 5).foreach { case (name, got, _) =>
      val before = sc.getPersistentRDDs.keySet
      val out = got()
      out.collect()
      ColumnBridge.unpersistCheckpoint(out)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left RDDs ${left.mkString(",")} persisted")
    }
  }
}
