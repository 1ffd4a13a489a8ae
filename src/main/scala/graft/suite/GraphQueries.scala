package graft.suite

import org.apache.spark.sql.functions._

import graft.operators.Graph
import Registry.tbl

/** Graph analytics over the part co-occurrence graph (parts are
  * adjacent when some order contains both). The weighted edge list is a
  * session artifact ([[Artifacts]]) — built once per corpus, read by
  * every graph query, prebuilt in the bench setup phase like the dedup
  * and IVF indexes.
  *
  * The degree profile reads the RAW graph (noise and all — that's what
  * a degree audit is for); triangle counting runs on the
  * support-thresholded graph (>= 2 shared orders), the frequent-
  * itemset-style gate that keeps the affinity structure while shedding
  * the once-co-occurring noise pairs that grow linearly with volume.
  * Triangles use the degree-oriented O(E^1.5) algorithm
  * (operators/Graph.scala); the DuckDB oracle uses the naive
  * id-oriented 3-way join — both enumerate each triangle exactly once,
  * so the per-corner counts must agree exactly.
  */
object GraphQueries {

  /** Shared weighted edge artifact: (src, dst, support). */
  private def sharedEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.memo(s, dir, "lineitem", "cooc_edges")(
      Graph.weightedCooccurrenceEdges(
        tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey"))

  /** The support>=2 affinity edges as their OWN persisted artifact:
    * the triangle plan references its edge input five times (degree
    * union ×2, wedge sides ×2, closing lookup) — against the raw
    * 1.2M-row artifact that is five 1.2M-row scans per run; against
    * this 3.6k-row frame the rescans are free.
    */
  private def sharedSupportEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.memo(s, dir, "lineitem", "cooc_edges_sup2")(
      sharedEdges(s, dir).filter(col("support") >= 2).select("src", "dst"))

  /** The degree-ORIENTED support edges, persisted: the triangle plan
    * references its oriented input three times (both wedge sides + the
    * closing lookup), and AQE won't reuse exchanges across subtrees —
    * persisting the orientation collapses three orientation pipelines
    * into three scans of one tiny cached frame.
    */
  private def sharedOrientedEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.memo(s, dir, "lineitem", "cooc_edges_oriented")(
      Graph.orientByDegree(sharedSupportEdges(s, dir)))

  /** The deterministic LPA community labels as a shared artifact: the
    * label-propagation query reports them and the modularity audit
    * consumes them — one 3-round propagation per (session, corpus), not
    * one per query.
    */
  private def sharedLpaLabels(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.memo(s, dir, "lineitem", "lpa_labels")(
      graft.operators.Graph.labelPropagationFixed(
        sharedSupportEdges(s, dir), rounds = 3))

  /** Bench setup hook: build the shared edge lists up front. */
  def prebuildArtifacts(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    sharedEdges(s, dir)
    sharedOrientedEdges(s, dir)
    sharedLpaLabels(s, dir)
    ()
  }

  /** Shared oracle prelude: distinct (order, part) membership and the
    * weighted id-oriented edge list.
    */
  private val edgeSql =
    """pp AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
       ew AS (SELECT a.i AS src, b.i AS dst, count(*) AS support
              FROM pp a JOIN pp b ON a.g = b.g AND a.i < b.i
              GROUP BY 1, 2)"""

  /** One unrolled PageRank round for the oracle: the SAME scaled-integer
    * recurrence [[graft.operators.Graph.pageRankScaled]] (personalized
    * PageRank with every vertex a seed) iterates —
    * per-edge `(rank*85) // (100*outdeg)` truncation, order-independent
    * integer sum, `15e12 // (100n)` teleport base — so a fixed unroll
    * depth agrees with the Spark loop bit-for-bit (DuckDB's `//` and
    * Spark's `div` both truncate toward zero on positive longs).
    */
  private def prRound(k: Int) =
    s"""r$k AS (SELECT a.v AS v,
           CAST((15000000000000 // (100 * (SELECT n FROM nv)))
             + sum((r.rank_c * 85) // (100 * a.od)) AS BIGINT) AS rank_c
         FROM ad a JOIN r${k - 1} r ON r.v = a.u GROUP BY a.v)"""

  /** One unrolled k-core peeling round for the oracle (k=3): survivors
    * of round r are vertices whose degree within round r-1's survivor
    * set is still >= 3 — the same monotone recurrence
    * [[graft.operators.Graph.kCoreFixed]] iterates, so a fixed unroll
    * depth agrees exactly whether or not the fixpoint was reached.
    */
  private def coreRound(r: Int) =
    s"""v$r AS (SELECT u AS x FROM (
           SELECT a.u, count(*) AS c FROM adj a
           JOIN v${r - 1} s ON a.u = s.x JOIN v${r - 1} t ON a.v = t.x
           GROUP BY a.u) WHERE c >= 3)"""

  /** One unrolled label-propagation round for the oracle: most frequent
    * neighbor label, ties to the smallest label — the same (count desc,
    * label asc) argmax [[graft.operators.Graph.labelPropagationFixed]]
    * computes as a lexicographic max, here as a row_number pick.
    */
  private def lpRound(k: Int) =
    s"""lp$k AS (SELECT u AS v, label FROM (
           SELECT u, label,
                  row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
           FROM (SELECT a.u, l.label, count(*) AS c
                 FROM adj a JOIN lp${k - 1} l ON l.v = a.v
                 GROUP BY a.u, l.label))
         WHERE rn = 1)"""

  def all: Seq[QDef] = Seq(

    QDef(
      "graph_label_propagation",
      (s, dir) =>
        // community detection on the support>=2 affinity graph:
        // 3 synchronous LPA rounds, every step deterministic (ties to
        // the smallest label), so the per-vertex labels are engine-exact
        // against the oracle's unrolled recurrence. Per round one
        // equi-join + two map-side-combined aggregations over the shared
        // edge artifact; lineage checkpoint-cut each round; the label
        // frame itself is a shared artifact (graph_modularity reads it).
        sharedLpaLabels(s, dir).orderBy("v"),
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        lp0 AS (SELECT DISTINCT u AS v, u AS label FROM adj),
        ${(1 to 3).map(lpRound).mkString(",\n        ")}
        SELECT v, label FROM lp3 ORDER BY v""")),

    QDef(
      "graph_modularity",
      (s, dir) => {
        // how good are the LPA communities? Newman modularity per
        // community in EXACT integer arithmetic: with m = |E|, community
        // contribution q_c = e_in/m - (deg_sum/(2m))^2; reported as the
        // integer numerator q_num = 4*m*e_in - deg_sum^2 over the common
        // denominator 4m^2 — order-independent sums, engine-exact, no
        // floating drift. Shape: two skinny label joins against the
        // shared edge artifact + map-side-combined aggs; m attaches as
        // an uncorrelated scalar subquery (no join, no broadcast).
        val e2 = sharedSupportEdges(s, dir)
        val labels = sharedLpaLabels(s, dir)
        val adj = e2.select(col("src").as("u")).unionAll(e2.select(col("dst").as("u")))
        val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
        val dc = labels.join(deg, labels("v") === deg("u"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vertices"), sum(col("d")).as("deg_sum"))
        val ec = e2
          .join(labels.select(col("v").as("sv"), col("label").as("sl")), col("src") === col("sv"))
          .join(labels.select(col("v").as("dv"), col("label").as("dl")), col("dst") === col("dv"))
          .filter(col("sl") === col("dl"))
          .groupBy(col("sl")).agg(count(lit(1)).as("e_in"))
        val m = org.apache.spark.sql.graft.ColumnBridge.scalar(
          e2.agg(count(lit(1)).as("m")))
        dc.join(ec, col("label") === col("sl"), "left_outer")
          .select(col("label"), col("n_vertices"), col("deg_sum"),
            coalesce(col("e_in"), lit(0L)).as("e_in"))
          .withColumn("q_num",
            lit(4L) * m * col("e_in") - col("deg_sum") * col("deg_sum"))
          .orderBy(col("label"))
      },
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        lp0 AS (SELECT DISTINCT u AS v, u AS label FROM adj),
        ${(1 to 3).map(lpRound).mkString(",\n        ")},
        m AS (SELECT count(*) AS m FROM e2),
        deg AS (SELECT u, count(*) AS d FROM adj GROUP BY u),
        dc AS (SELECT l.label, count(*) AS n_vertices, sum(d.d) AS deg_sum
               FROM lp3 l JOIN deg d ON d.u = l.v GROUP BY l.label),
        ec AS (SELECT la.label, count(*) AS e_in
               FROM e2 e JOIN lp3 la ON la.v = e.src
               JOIN lp3 lb ON lb.v = e.dst AND lb.label = la.label
               GROUP BY la.label)
        SELECT dc.label, dc.n_vertices, CAST(dc.deg_sum AS BIGINT) AS deg_sum,
               CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in,
               CAST(4 * (SELECT m FROM m) * coalesce(ec.e_in, 0)
                    - dc.deg_sum * dc.deg_sum AS BIGINT) AS q_num
        FROM dc LEFT JOIN ec ON ec.label = dc.label
        ORDER BY dc.label""")),

    QDef(
      "graph_assortativity",
      (s, dir) => {
        // degree assortativity as EXACT integer moments: per edge (u,v)
        // with degrees du/dv, report m, sum(du*dv), sum(du+dv),
        // sum(du^2+dv^2) — the four sums Newman's r is a closed form of
        // (r = [4m*S_prod - S_sum^2] / [2m*S_sq - S_sum^2]). Integer
        // sums are order-independent, so the result is engine-exact;
        // the float division is the caller's one-line epilogue. Shape:
        // one degree aggregation + two skinny joins onto the shared
        // edge artifact, all map-side-combinable.
        val e2 = sharedSupportEdges(s, dir)
        val adj = e2.select(col("src").as("u")).unionAll(e2.select(col("dst").as("u")))
        val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
        e2.join(deg.select(col("u").as("su"), col("d").as("du")), col("src") === col("su"))
          .join(deg.select(col("u").as("du_"), col("d").as("dv")), col("dst") === col("du_"))
          .agg(count(lit(1)).as("m"),
            sum(col("du") * col("dv")).as("s_prod"),
            sum(col("du") + col("dv")).as("s_sum"),
            sum(col("du") * col("du") + col("dv") * col("dv")).as("s_sq"))
      },
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adjd AS (SELECT u, count(*) AS d FROM (
                   SELECT src AS u FROM e2 UNION ALL SELECT dst AS u FROM e2)
                 GROUP BY u)
        SELECT count(*) AS m,
               CAST(sum(a.d * b.d) AS BIGINT) AS s_prod,
               CAST(sum(a.d + b.d) AS BIGINT) AS s_sum,
               CAST(sum(a.d * a.d + b.d * b.d) AS BIGINT) AS s_sq
        FROM e2 JOIN adjd a ON a.u = e2.src JOIN adjd b ON b.u = e2.dst""")),

    QDef(
      "graph_kcore",
      (s, dir) =>
        // 3-core of the support>=2 affinity graph: iteratively peel
        // vertices with in-set degree < 3 (6 fixed rounds, matching the
        // oracle's unroll), then report each survivor's degree within
        // the surviving subgraph. Per round: two semi-joins against the
        // shrinking survivor set + one map-side-combined count;
        // checkpoint-cut lineage per round.
        graft.operators.Graph.kCoreFixed(
            sharedSupportEdges(s, dir), k = 3, rounds = 6)
          .orderBy("v"),
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        v0 AS (SELECT DISTINCT u AS x FROM adj),
        ${(1 to 6).map(coreRound).mkString(",\n        ")}
        SELECT a.u AS v, CAST(count(*) AS BIGINT) AS core_deg
        FROM adj a JOIN v6 s ON a.u = s.x JOIN v6 t ON a.v = t.x
        GROUP BY a.u ORDER BY v""")),

    QDef(
      "graph_pagerank",
      (s, dir) =>
        // 5-round PageRank over the support>=2 affinity graph in scaled
        // integer arithmetic (exact, partitioning-independent — see
        // operators/Graph.pageRankScaled, which runs
        // personalizedPageRankScaled with every vertex a seed). Per
        // round: one equi-join + one map-side-combined sum; lineage
        // checkpoint-cut each round (Graph.iterate) so the submitted
        // plan is a flat scan of the final rank frame.
        graft.operators.Graph.pageRankScaled(sharedSupportEdges(s, dir), iters = 5)
          .select(col("v").as("part"), col("rank_c"))
          .orderBy(col("rank_c").desc, col("part")),
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        dg AS (SELECT u, count(*) AS od FROM adj GROUP BY u),
        ad AS (SELECT a.u, a.v, d.od FROM adj a JOIN dg d ON d.u = a.u),
        nv AS (SELECT count(DISTINCT u) AS n FROM adj),
        r0 AS (SELECT DISTINCT u AS v,
                 1000000000000 // (SELECT n FROM nv) AS rank_c FROM adj),
        ${(1 to 5).map(prRound).mkString(",\n        ")}
        SELECT v AS part, rank_c FROM r5 ORDER BY rank_c DESC, v""")),

    QDef(
      "graph_degree_hist",
      (s, dir) => {
        // degree distribution of the raw co-occurrence graph:
        // undirected incidence (each edge counts at both endpoints),
        // then a histogram over degrees — two map-side-combined
        // aggregations over the shared edge artifact; the graph-health
        // profile that decides whether degree orientation is even
        // needed downstream
        val e = sharedEdges(s, dir)
        e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
          .orderBy("deg")
      },
      Some(s"""
        WITH $edgeSql,
        d AS (SELECT v, count(*) AS deg FROM (
                SELECT src AS v FROM ew UNION ALL SELECT dst AS v FROM ew)
              GROUP BY v)
        SELECT deg, count(*) AS n_vertices FROM d
        GROUP BY deg ORDER BY deg""")),

    QDef(
      "graph_triangle_topk",
      (s, dir) =>
        // top-20 parts by triangle participation in the support>=2
        // affinity graph: triangles from the degree-oriented wedge join
        // (skew-proof at any scale), corners exploded and counted,
        // orderBy().limit() planning as TakeOrderedAndProject
        // (per-partition top-k, no global sort)
        Graph.trianglesFromOriented(sharedOrientedEdges(s, dir))
          .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
          .groupBy("part").agg(count(lit(1)).as("n_tri"))
          .orderBy(col("n_tri").desc, col("part"))
          .limit(20),
      Some(s"""
        WITH $edgeSql,
        e AS (SELECT src, dst FROM ew WHERE support >= 2),
        tr AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               FROM e e1
               JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        x AS (SELECT unnest([a, b, c]) AS part FROM tr)
        SELECT part, count(*) AS n_tri FROM x
        GROUP BY part ORDER BY n_tri DESC, part LIMIT 20""")),

    QDef(
      "graph_clustering_coeff",
      (s, dir) => {
        // per-vertex local clustering as EXACT integer pairs: closed
        // triangles at v over possible wedges deg*(deg-1)/2 — the
        // "how clique-like is this part's neighborhood" score, division
        // left to the caller. Triangle corners come off the shared
        // degree-oriented enumeration (each triangle once, skew-proof);
        // wedges off the degree aggregation; one left join on the
        // vertex grain.
        val tri = graft.operators.Graph
          .trianglesFromOriented(sharedOrientedEdges(s, dir))
          .select(explode(array(col("a"), col("b"), col("c"))).as("tv"))
          .groupBy("tv").agg(count(lit(1)).as("n_tri"))
        val e2 = sharedSupportEdges(s, dir)
        val deg = e2.select(col("src").as("v")).unionAll(e2.select(col("dst").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d"))
        deg.filter(col("d") >= 2)
          .join(tri, col("v") === col("tv"), "left_outer")
          .select(col("v"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            expr("(d * (d - 1)) div 2").as("n_wedge"))
          .orderBy("v")
      },
      Some(s"""
        WITH $edgeSql,
        e AS (SELECT src, dst FROM ew WHERE support >= 2),
        tr AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               FROM e e1
               JOIN e e2 ON e1.dst = e2.src
               JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        tc AS (SELECT v AS tv, count(*) AS n_tri FROM (
                 SELECT unnest([a, b, c]) AS v FROM tr) GROUP BY 1),
        dg AS (SELECT v, count(*) AS d FROM (
                 SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)
               GROUP BY v)
        SELECT dg.v, CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
               CAST(dg.d * (dg.d - 1) // 2 AS BIGINT) AS n_wedge
        FROM dg LEFT JOIN tc ON tc.tv = dg.v
        WHERE dg.d >= 2 ORDER BY dg.v""")),

    QDef(
      "graph_cc_components",
      (s, dir) =>
        // connected components of the affinity graph — the SAME
        // hash-min + path-shortcutting CC operator the dedup survivor
        // stack runs (logarithmic rounds, lineage cut per round),
        // pointed at a different domain: product families emerge as
        // components of the support>=2 co-purchase graph. Oracle is a
        // min-reachable-label recursive CTE.
        graft.dedup.Dedup.connectedComponents(
            sharedSupportEdges(s, dir), "src", "dst")
          .groupBy(col("label")).agg(count(lit(1)).as("n_parts"))
          .orderBy(col("n_parts").desc, col("label")),
      Some(s"""
        WITH RECURSIVE $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        e AS (SELECT src AS u, dst AS v FROM e2
              UNION SELECT dst AS u, src AS v FROM e2),
        reach(u, m) AS (
          SELECT u, u AS m FROM (SELECT DISTINCT u FROM e)
          UNION
          SELECT r.u, e.v AS m FROM reach r JOIN e ON r.m = e.u),
        comp AS (SELECT u, min(m) AS label FROM reach GROUP BY u)
        SELECT label, count(*) AS n_parts FROM comp
        GROUP BY label ORDER BY n_parts DESC, label""")),

    QDef(
      "graph_common_neighbors",
      (s, dir) => {
        // link prediction by common-neighbor count: the top-20
        // NOT-yet-adjacent part pairs sharing the most co-purchase
        // neighbors. Wedge join over the undirected adjacency (all
        // wedges, unlike triangle counting's oriented ones — a pair's
        // common neighbors include centers below it in degree order),
        // then an anti-join removes existing edges. On a big graph the
        // known lever is super-hub capping; the support gate already
        // bounds this one.
        val e = sharedSupportEdges(s, dir)
        val adj = e.select(col("src").as("z"), col("dst").as("w"))
          .unionAll(e.select(col("dst").as("z"), col("src").as("w")))
        val wedges = adj.as("a").join(adj.as("b"),
            col("a.z") === col("b.z") && col("a.w") < col("b.w"))
          .select(col("a.w").as("p1"), col("b.w").as("p2"))
        wedges.groupBy("p1", "p2").agg(count(lit(1)).as("n_common"))
          .join(e.select(col("src").as("p1"), col("dst").as("p2")),
            Seq("p1", "p2"), "left_anti")
          .orderBy(col("n_common").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS z, dst AS w FROM e2
                UNION ALL SELECT dst AS z, src AS w FROM e2),
        cn AS (SELECT a.w AS p1, b.w AS p2, count(*) AS n_common
               FROM adj a JOIN adj b ON a.z = b.z AND a.w < b.w
               GROUP BY 1, 2)
        SELECT p1, p2, n_common FROM cn
        WHERE NOT EXISTS (SELECT 1 FROM e2
                          WHERE e2.src = cn.p1 AND e2.dst = cn.p2)
        ORDER BY n_common DESC, p1, p2 LIMIT 20""")),

    QDef(
      "graph_resource_allocation",
      (s, dir) => {
        // resource-allocation link prediction (Zhou/Lu/Zhang 2009,
        // Eur. Phys. J. B 71:623): score a non-adjacent pair by
        // sum(1/deg(z)) over common neighbors z — a shared rare part
        // signals affinity more than a shared hub. Same wedge join as
        // graph_common_neighbors, but each wedge carries its center's
        // weight, precomputed once as the scaled integer 1e6 div deg(z)
        // (exact, order-independent sum — no float summation drift
        // between engines).
        val e = sharedSupportEdges(s, dir)
        val adj = e.select(col("src").as("z"), col("dst").as("w"))
          .unionAll(e.select(col("dst").as("z"), col("src").as("w")))
        val degW = adj.groupBy("z").agg(expr("1000000 div count(*)").as("c"))
        val adjW = adj.join(degW, Seq("z"))
        adjW.as("a").join(adjW.as("b"),
            col("a.z") === col("b.z") && col("a.w") < col("b.w"))
          .select(col("a.w").as("p1"), col("b.w").as("p2"), col("a.c").as("c"))
          .groupBy("p1", "p2").agg(sum(col("c")).as("ra_score_m"))
          .join(e.select(col("src").as("p1"), col("dst").as("p2")),
            Seq("p1", "p2"), "left_anti")
          .orderBy(col("ra_score_m").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS z, dst AS w FROM e2
                UNION ALL SELECT dst AS z, src AS w FROM e2),
        dg AS (SELECT z, 1000000 // count(*) AS c FROM adj GROUP BY z),
        aw AS (SELECT a.z, a.w, d.c FROM adj a JOIN dg d ON d.z = a.z),
        ra AS (SELECT a.w AS p1, b.w AS p2, CAST(sum(a.c) AS BIGINT) AS ra_score_m
               FROM aw a JOIN aw b ON a.z = b.z AND a.w < b.w
               GROUP BY 1, 2)
        SELECT p1, p2, ra_score_m FROM ra
        WHERE NOT EXISTS (SELECT 1 FROM e2
                          WHERE e2.src = ra.p1 AND e2.dst = ra.p2)
        ORDER BY ra_score_m DESC, p1, p2 LIMIT 20""")),

    QDef(
      "graph_adamic_adar",
      (s, dir) => {
        // Adamic–Adar link prediction (the log-damped sibling of
        // graph_resource_allocation): score a non-adjacent pair by
        // sum(1/log2(deg z)) over common neighbors z — RA's 1/deg
        // punishes hubs linearly, AA logarithmically, the classic
        // middle ground. Same wedge equi-join; the center weight is the
        // exact fixed-point 2^30 div log2q10(deg) ≈ 2^20/log2(deg)
        // (PortableLog — no libm, so the sum is order-independent and
        // engine-identical). A common neighbor is adjacent to both
        // endpoints, so deg(z) >= 2 and the divisor is >= 1024 — no
        // log-of-one pole by construction.
        import graft.functions.PortableLog.log2q10
        val e = sharedSupportEdges(s, dir)
        val adj = e.select(col("src").as("z"), col("dst").as("w"))
          .unionAll(e.select(col("dst").as("z"), col("src").as("w")))
        val degW = adj.groupBy("z").agg(count(lit(1)).as("deg"))
          // a deg-1 center can't close a wedge, and log2(1) = 0 would
          // pole the weight — drop them before the division runs
          .filter(col("deg") >= 2)
          .select(col("z"),
            call_function("div", lit(1073741824L), log2q10(col("deg"))).as("c"))
        val adjW = adj.join(degW, Seq("z"))
        adjW.as("a").join(adjW.as("b"),
            col("a.z") === col("b.z") && col("a.w") < col("b.w"))
          .select(col("a.w").as("p1"), col("b.w").as("p2"), col("a.c").as("c"))
          .groupBy("p1", "p2").agg(sum(col("c")).as("aa_score_q"))
          .join(e.select(col("src").as("p1"), col("dst").as("p2")),
            Seq("p1", "p2"), "left_anti")
          .orderBy(col("aa_score_q").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS z, dst AS w FROM e2
                UNION ALL SELECT dst AS z, src AS w FROM e2),
        dg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z HAVING count(*) >= 2),
        dw AS (SELECT z,
                 1073741824 // ${graft.functions.PortableLog.log2q10Sql("deg")} AS c
               FROM dg, l2t),
        aw AS (SELECT a.z, a.w, d.c FROM adj a JOIN dw d ON d.z = a.z),
        aa AS (SELECT a.w AS p1, b.w AS p2, CAST(sum(a.c) AS BIGINT) AS aa_score_q
               FROM aw a JOIN aw b ON a.z = b.z AND a.w < b.w
               GROUP BY 1, 2)
        SELECT p1, p2, aa_score_q FROM aa
        WHERE NOT EXISTS (SELECT 1 FROM e2
                          WHERE e2.src = aa.p1 AND e2.dst = aa.p2)
        ORDER BY aa_score_q DESC, p1, p2 LIMIT 20""")),

    QDef(
      "graph_bfs_distance",
      (s, dir) => {
        // multi-source BFS: hop distance from the seed set (every 97th
        // part id present in the affinity graph) out to 3 hops —
        // "how far is everything from the anchor SKUs". Frontier
        // expansion joins adjacency against the CURRENT frontier only
        // (operators/Graph.bfsDistances, the per-seed search of
        // Graph.bfsPerSeed with one label shared by all seeds), never
        // the visited set, so per-round cost tracks the frontier's edge
        // boundary; the oracle unrolls the identical recurrence
        // (neighbors minus already-seen) three times.
        val e = sharedSupportEdges(s, dir)
        val verts = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
          .distinct()
        val seeds = verts.filter(col("v") % 97 === 0)
        Graph.bfsDistances(e, seeds, maxDepth = 3).orderBy("dist", "v")
      },
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        d0 AS (SELECT DISTINCT u AS v FROM adj WHERE u % 97 = 0),
        f1 AS (SELECT DISTINCT a.v FROM adj a JOIN d0 s ON a.u = s.v
               WHERE a.v NOT IN (SELECT v FROM d0)),
        f2 AS (SELECT DISTINCT a.v FROM adj a JOIN f1 s ON a.u = s.v
               WHERE a.v NOT IN (SELECT v FROM d0)
                 AND a.v NOT IN (SELECT v FROM f1)),
        f3 AS (SELECT DISTINCT a.v FROM adj a JOIN f2 s ON a.u = s.v
               WHERE a.v NOT IN (SELECT v FROM d0)
                 AND a.v NOT IN (SELECT v FROM f1)
                 AND a.v NOT IN (SELECT v FROM f2))
        SELECT v, CAST(0 AS INT) AS dist FROM d0
        UNION ALL SELECT v, 1 FROM f1
        UNION ALL SELECT v, 2 FROM f2
        UNION ALL SELECT v, 3 FROM f3
        ORDER BY dist, v""")),

    QDef(
      "graph_sssp_weighted",
      (s, dir) => {
        // weighted shortest paths from the same anchor seeds: edge cost
        // is the scaled-integer affinity inverse (1e6 div support — a
        // strongly-supported co-occurrence is a short hop), relaxed for
        // 4 Bellman-Ford rounds (operators/Graph.ssspScaled). Exact
        // min-plus integer arithmetic end-to-end; the oracle unrolls
        // d_k(v) = min(d_{k-1}(v), min_u(d_{k-1}(u) + w)) four times.
        val w = sharedEdges(s, dir).filter(col("support") >= 2)
          .select(col("src"), col("dst"), expr("1000000 div support").as("w"))
        val verts = w.select(col("src").as("v")).unionAll(w.select(col("dst").as("v")))
          .distinct()
        val seeds = verts.filter(col("v") % 97 === 0)
        Graph.ssspScaled(w, seeds, rounds = 4).orderBy("v")
      },
      Some(s"""
        WITH $edgeSql,
        wr AS (SELECT src, dst, 1000000 // support AS w FROM ew WHERE support >= 2),
        aw AS (SELECT src AS u, dst AS v, w FROM wr
               UNION SELECT dst AS u, src AS v, w FROM wr),
        s0 AS (SELECT DISTINCT u AS v, CAST(0 AS BIGINT) AS dist_c FROM aw
               WHERE u % 97 = 0),
        ${(1 to 4).map { k =>
          s"""s$k AS (SELECT v, CAST(min(dist_c) AS BIGINT) AS dist_c FROM (
                 SELECT v, dist_c FROM s${k - 1}
                 UNION ALL
                 SELECT a.v, s.dist_c + a.w AS dist_c
                 FROM aw a JOIN s${k - 1} s ON a.u = s.v) GROUP BY v)"""
        }.mkString(",\n        ")}
        SELECT v, dist_c FROM s4 ORDER BY v""")),

    QDef(
      "graph_closeness_sampled",
      (s, dir) => {
        // sampled (landmark) harmonic centrality: per-seed BFS to 3 hops
        // over the affinity graph, harmonic score Σ |ball_d|/d — the
        // standard estimator when exact all-pairs closeness is O(V·E).
        // Each seed runs a LABELED frontier search (Graph.bfsPerSeed):
        // one adjacency equi-join per round over all seeds' frontiers
        // together, keyed anti-join vs that seed's visited set. Scores
        // stay exact integers (harmonic ×6 clears the /2 and /3), so
        // the per-seed unrolled oracle matches bit-for-bit.
        val e2 = sharedSupportEdges(s, dir)
        val verts = e2.select(col("src").as("v"))
          .unionAll(e2.select(col("dst").as("v"))).distinct()
        val seeds = verts.filter(col("v") % 97 === 0)
        graft.operators.Graph.bfsPerSeed(e2, seeds, maxDepth = 3)
          .groupBy(col("seed"))
          .agg(sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n2"),
            sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n3"))
          .select(col("seed"), col("n1"), col("n2"), col("n3"),
            (col("n1") * 6 + col("n2") * 3 + col("n3") * 2).as("harmonic_x6"))
          .orderBy(col("seed"))
      },
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        d0 AS (SELECT DISTINCT u AS seed, u AS v FROM adj WHERE u % 97 = 0),
        f1 AS (SELECT DISTINCT s.seed, a.v FROM adj a JOIN d0 s ON a.u = s.v
               WHERE a.v <> s.seed),
        f2 AS (SELECT DISTINCT s.seed, a.v FROM adj a JOIN f1 s ON a.u = s.v
               WHERE NOT EXISTS (SELECT 1 FROM d0 x
                                 WHERE x.seed = s.seed AND x.v = a.v)
                 AND NOT EXISTS (SELECT 1 FROM f1 x
                                 WHERE x.seed = s.seed AND x.v = a.v)),
        f3 AS (SELECT DISTINCT s.seed, a.v FROM adj a JOIN f2 s ON a.u = s.v
               WHERE NOT EXISTS (SELECT 1 FROM d0 x
                                 WHERE x.seed = s.seed AND x.v = a.v)
                 AND NOT EXISTS (SELECT 1 FROM f1 x
                                 WHERE x.seed = s.seed AND x.v = a.v)
                 AND NOT EXISTS (SELECT 1 FROM f2 x
                                 WHERE x.seed = s.seed AND x.v = a.v)),
        lvl AS (SELECT seed, v, 1 AS lv FROM f1
                UNION ALL SELECT seed, v, 2 FROM f2
                UNION ALL SELECT seed, v, 3 FROM f3)
        SELECT s.seed,
               count(CASE WHEN lv = 1 THEN 1 END) AS n1,
               count(CASE WHEN lv = 2 THEN 1 END) AS n2,
               count(CASE WHEN lv = 3 THEN 1 END) AS n3,
               CAST(count(CASE WHEN lv = 1 THEN 1 END) * 6 +
                    count(CASE WHEN lv = 2 THEN 1 END) * 3 +
                    count(CASE WHEN lv = 3 THEN 1 END) * 2 AS BIGINT)
                 AS harmonic_x6
        FROM d0 s LEFT JOIN lvl l ON l.seed = s.seed
        GROUP BY s.seed ORDER BY s.seed""")),

    QDef(
      "graph_ppr",
      (s, dir) =>
        // personalized PageRank from the v % 97 = 0 seed parts (the
        // BFS query's seed convention), 4 scaled-integer rounds with
        // teleport mass restricted to the seeds — "parts related to
        // THESE parts" rather than globally central ones. Rank frames
        // stay sparse (only reached vertices), checkpoint-cut per
        // round; the oracle unrolls the identical integer recurrence.
        graft.operators.Graph.personalizedPageRankScaled(
            sharedSupportEdges(s, dir),
            sharedSupportEdges(s, dir).select(col("src").as("v"))
              .unionByName(sharedSupportEdges(s, dir).select(col("dst").as("v")))
              .distinct().filter(col("v") % 97 === 0),
            iters = 4)
          .select(col("v").as("part"), col("rank_c"))
          .orderBy(col("rank_c").desc, col("part")),
      Some(s"""
        WITH $edgeSql,
        e2 AS (SELECT src, dst FROM ew WHERE support >= 2),
        adj AS (SELECT src AS u, dst AS v FROM e2
                UNION SELECT dst AS u, src AS v FROM e2),
        dg AS (SELECT u, count(*) AS od FROM adj GROUP BY u),
        ad AS (SELECT a.u, a.v, d.od FROM adj a JOIN dg d ON d.u = a.u),
        sd AS (SELECT DISTINCT u AS v FROM adj WHERE u % 97 = 0),
        ns AS (SELECT count(*) AS n FROM sd),
        r0 AS (SELECT v, 1000000000000 // (SELECT n FROM ns) AS rank_c
               FROM sd),
        ${(1 to 4).map(pprRound).mkString(",\n        ")}
        SELECT v AS part, rank_c FROM r4 ORDER BY rank_c DESC, v""")),

    QDef(
      "graph_hits",
      (s, dir) =>
        // HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
        // support>=2 affinity graph (direction = the id orientation the
        // edge artifact carries), 4 rounds of exact scaled-integer
        // mutual reinforcement with shift renormalization — every
        // iterate an integer, lineage checkpoint-cut per half-round
        // (operators/Graph.hitsScaled). Authorities = parts many
        // co-purchase baskets point INTO under the orientation; the
        // oracle unrolls the identical recurrence as MATERIALIZED CTEs.
        graft.operators.Graph.hitsScaled(sharedSupportEdges(s, dir), iters = 4)
          .select(col("v").as("part"), col("auth_c"), col("hub_c"))
          .orderBy(col("auth_c").desc, col("part")),
      Some(s"""
        WITH $edgeSql,
        e2 AS MATERIALIZED (SELECT src, dst FROM ew WHERE support >= 2),
        h0 AS (SELECT DISTINCT src AS v, CAST(1 AS BIGINT) AS h FROM e2),
        ${(1 to 4).map(hitsRound).mkString(",\n        ")}
        SELECT v AS part, auth_c, hub_c FROM (
          SELECT coalesce(a.v, h.v) AS v,
                 coalesce(a.a, 0) AS auth_c, coalesce(h.h, 0) AS hub_c
          FROM a4 a FULL OUTER JOIN h4 h ON h.v = a.v)
        ORDER BY auth_c DESC, part"""))
  )

  /** One unrolled personalized-PageRank round: teleport mass lands on
    * SEEDS ONLY; propagated contributions and the seed base sum as
    * exact integers, mirroring
    * [[graft.operators.Graph.personalizedPageRankScaled]] — rank rows
    * exist only where mass has reached (sparse union of contributions
    * and the seed base).
    */
  private def pprRound(k: Int) =
    s"""r$k AS MATERIALIZED (
          SELECT v, CAST(sum(c) AS BIGINT) AS rank_c FROM (
            SELECT a.v, (r.rank_c * 85) // (100 * a.od) AS c
            FROM ad a JOIN r${k - 1} r ON r.v = a.u
            UNION ALL
            SELECT v, 150000000000 // (SELECT n FROM ns) AS c FROM sd)
          GROUP BY v)"""

  /** One unrolled HITS round for the oracle: the SAME scaled-integer
    * recurrence [[graft.operators.Graph.hitsScaled]] iterates — integer
    * sums over in-/out-neighbors, then an arithmetic right shift by
    * max(bitlen(max) − 32, 0). MATERIALIZED: each layer reads the
    * previous twice; inlining would replay 2^rounds plans.
    */
  private def hitsRound(k: Int) =
    s"""ra$k AS MATERIALIZED (
          SELECT e.dst AS v, CAST(sum(h.h) AS BIGINT) AS raw
          FROM e2 e JOIN h${k - 1} h ON h.v = e.src GROUP BY 1),
        sa$k AS (SELECT greatest(length(bin(max(abs(raw)))) - 32, 0) AS sh
                 FROM ra$k),
        a$k AS MATERIALIZED (
          SELECT v, raw >> (SELECT sh FROM sa$k) AS a FROM ra$k),
        rh$k AS MATERIALIZED (
          SELECT e.src AS v, CAST(sum(a.a) AS BIGINT) AS raw
          FROM e2 e JOIN a$k a ON a.v = e.dst GROUP BY 1),
        sh$k AS (SELECT greatest(length(bin(max(abs(raw)))) - 32, 0) AS sh
                 FROM rh$k),
        h$k AS MATERIALIZED (
          SELECT v, raw >> (SELECT sh FROM sh$k) AS h FROM rh$k)"""
}
