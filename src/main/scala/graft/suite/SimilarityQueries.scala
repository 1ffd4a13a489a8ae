package graft.suite

import org.apache.spark.sql.functions._

import graft.similarity.Similarity
import Registry.tbl

/** Similarity-search extension suite over `embeddings`. */
object SimilarityQueries {

  private[suite] val Planes = 4
  private[suite] val Dims = 64

  /** Output dimensionality of the JL random projection. */
  private val JlDims = 16

  /** SQL fragments for the integer-exact LSH (mirrors
    * Similarity.planeWeights / intEmbedding / lshBucket). Shared with
    * DedupQueries' blocked embedding dedup.
    */
  private[suite] val intEmbSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  private def planeDotSql(k: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(list_zip(ie,
            list_transform(generate_series(0, ${Dims - 1}),
              d -> CAST(($k * 37 + d * 17) % 7 - 3 AS BIGINT))),
            z -> z[1] * z[2])),
          (acc, x) -> acc + x)"""

  private[suite] val bucketSql: String =
    (0 until Planes).map { k =>
      s"CASE WHEN ${planeDotSql(k)} >= 0 THEN ${1L << k} ELSE 0 END"
    }.mkString(" + ")

  private val dotFoldSql =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(list_zip(q.emb, c.emb), z -> z[1] * z[2])),
         (acc, x) -> acc + x)"""

  private def normSql(a: String) =
    s"""sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_zip($a.emb, $a.emb), z -> z[1] * z[2])),
          (acc, x) -> acc + x))"""

  private val IvfCells = 16
  private val IvfProbe = 2

  /** Query-panel size for the PINNED-cells serving forms. A
    * constant-cells index costs ~nprobe·N/numCells per probe, so
    * serving ALL N corpus vectors as queries is quadratic in N — at the
    * sf1 replay the pinned pair alone cost 79 s (14% of the wall).
    * Their oracle-stability role (recall comparisons at a FIXED
    * operating point across corpus sizes) only needs a FIXED query
    * panel, so the pinned forms serve the deterministic 32-vector hash
    * reservoir (same set at any N — the sim_cosine_topk trick) while
    * the √N-cells `_scaled` twins remain the measured full-corpus
    * serving path.
    */
  private val IvfPanel = 32

  /** DuckDB mirror of [[Similarity.queryPanel]]: the IvfPanel vectors
    * with the smallest (hash_bucket(id), id).
    */
  private val panelSql =
    s"""panel AS (SELECT vec_id FROM (
          SELECT vec_id,
            ${SamplingQueries.hashSql("CAST(vec_id AS VARCHAR)", 1000000000)} AS b
          FROM embeddings) s ORDER BY b, vec_id LIMIT $IvfPanel)"""

  /** The shared IVF index — the vector×centroid distance frame both IVF
    * queries derive from — memoized per (session, corpus fingerprint)
    * like the dedup pair graph: an index is built once and probed many
    * times. Lives in the same [[Artifacts]] cache (same staleness and
    * cleanup rules).
    */
  private def sharedIvfDists(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "embeddings", "ivf_dists")(
      Similarity.ivfDists(tbl(s, dir, "embeddings"), "vec_id", "embedding", IvfCells))

  /** The SCALE-FORM IVF index: numCells = max(16, floor(√N)) — the
    * production law ScaleProbe measures (per-probe candidates ~√N, so
    * query cost grows ~N^1.5 TOTAL but ~√N per query, vs the pinned
    * 16-cell index whose per-probe candidate sets grow linearly with N).
    * The count is one metadata-scale action; the codebook stays a
    * broadcast dimension (√N rows). Cached like the pinned index.
    */
  private def sharedIvfDistsScaled(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "embeddings", "ivf_dists_scaled") {
      val e = tbl(s, dir, "embeddings")
      val cells = math.max(16L, math.floor(math.sqrt(e.count().toDouble)).toLong)
      Similarity.ivfDists(e, "vec_id", "embedding", cells.toInt)
    }

  /** Bench setup hook: build the IVF indexes (pinned + scale-form, and
    * the semantic-dedup labels that derive from the pinned one) and the
    * PQ codebook+codes up front.
    */
  def prebuildArtifacts(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    sharedIvfDists(s, dir); sharedSemanticLabels(s, dir)
    sharedIvfDistsScaled(s, dir)
    sharedPqCents(s, dir); sharedPqCodes(s, dir); ()
  }

  private val PqBlocks = 8
  private val PqK = 16
  private val PqIters = 1

  /** The PQ codebook and code table as session artifacts: trained once
    * per corpus, probed by the encode and ADC queries alike (same cache
    * rules as the IVF index).
    */
  private def sharedPqSv(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "embeddings", "pq_sv")(
      Similarity.pqSubvectors(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        PqBlocks, Dims))

  private def sharedPqCents(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val sv = sharedPqSv(s, dir)
    Artifacts.memo(s, dir, "embeddings", "pq_cents")(
      Similarity.kmeansCodebook(sv, Similarity.Pq, PqK, PqIters))
  }

  private def sharedPqCodes(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val sv = sharedPqSv(s, dir)
    val cents = sharedPqCents(s, dir)
    Artifacts.memo(s, dir, "embeddings", "pq_codes")(
      Similarity.pqAssignFrom(sv, cents))
  }

  /** SemDeDup-style semantic-dedup threshold: exact cosine within a
    * k-means cell. Deliberately higher than the LSH-blocked
    * `dedup_embedding_cosine` gate (0.35) — cluster blocking admits
    * coarser candidates, so the verify gate does more of the work.
    */
  private val SemMinCos = 0.40

  /** Semantic near-dup component labels `(node, label)`: the IVF k-means
    * cells act as the blocking stage (the SemDeDup recipe — cluster,
    * then compare only within a cluster), exact integer-embedding cosine
    * verifies each within-cell pair, and hash-min connected components
    * collapse transitive matches. Cached like the pair graph: built once
    * per (session, corpus), read by every derived query.
    *
    * Scale shape: the only join is the cell-key self-join; per-cell
    * population is ~N/numCells (numCells grows with corpus size in
    * production), so candidate volume is sum-of-squares over bounded
    * cells, never N². CC is the shared logarithmic-round operator.
    */
  private def sharedSemanticLabels(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val dists = sharedIvfDists(s, dir)
    Artifacts.memo(s, dir, "embeddings", "semantic_labels") {
      val assign = Similarity.ivfAssignFrom(dists)
      val lhs = assign.select(
        col("v_id").as("a"), col("ie").as("ia"), col("aa").as("na"), col("cell"))
      val rhs = assign.select(
        col("v_id").as("b"), col("ie").as("ib"), col("aa").as("nb"), col("cell"))
      val pairs = lhs.join(rhs, Seq("cell"))
        .filter(col("a") < col("b"))
        .withColumn("cos", Similarity.intCosine(
          graft.functions.VectorExpressions.dotLong(col("ia"), col("ib")), col("na"), col("nb")))
        .filter(col("cos") >= SemMinCos)
        .select(col("a"), col("b"))
      graft.dedup.Dedup.connectedComponents(pairs, "a", "b")
    }
  }

  private def intDotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(list_zip($a, $b), z -> z[1] * z[2])),
          (acc, x) -> acc + x)"""

  /** The deterministic k-means iterations as CTEs: c0 is the lowest-id
    * seed codebook; each step reassigns (integer d2, ties by cid) and
    * takes per-dimension floor(mean), empty cells keeping their previous
    * centroid — the exact mirror of Similarity.kmeansCodebook over the
    * Ivf grain.
    */
  private def kmeansCteSql(iters: Int,
      limitSql: String = IvfCells.toString, prefix: String = "",
      src: String = "av"): String = {
    // `prefix` namespaces the CTE chain so several codebooks (the
    // cells-count tuning curve) can train inside ONE WITH clause;
    // `src` picks the training population (sim_ivf_incremental trains
    // on the base partition only)
    val init =
      s"${prefix}c0 AS (SELECT vec_id AS cid, ie AS ce FROM $src ORDER BY vec_id LIMIT $limitSql)"
    val steps = (1 to iters).map { i =>
      s"""${prefix}a$i AS (SELECT vec_id, ie, cid AS cell FROM (
              SELECT v.vec_id, v.ie, c.cid,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  v.aa - 2 * ${intDotSql("v.ie", "c.ce")}
                    + ${intDotSql("c.ce", "c.ce")}, c.cid) AS rn
              FROM $src v, ${prefix}c${i - 1} c) WHERE rn = 1),
          ${prefix}m$i AS (SELECT cell, d,
                CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS mu
              FROM (SELECT a.cell, dd.d, a.ie[dd.d] AS v
                    FROM ${prefix}a$i a, (SELECT unnest(generate_series(1, $Dims)) AS d) dd)
              GROUP BY cell, d),
          ${prefix}mm$i AS (SELECT cell, list(mu ORDER BY d) AS me FROM ${prefix}m$i GROUP BY cell),
          ${prefix}c$i AS (SELECT p.cid, coalesce(m.me, p.ce) AS ce
                  FROM ${prefix}c${i - 1} p LEFT JOIN ${prefix}mm$i m ON m.cell = p.cid)"""
    }
    (init +: steps).mkString(",\n")
  }

  /** Shared IVF prelude: integer embeddings, self-norms, the
    * deterministic k-means codebook, all pairwise cell distances, and
    * the argmin cell assignment (mirrors Similarity.ivfAssignFrom).
    */
  private def ivfPreludeSqlWith(limitSql: String): String =
    s"""iv AS (SELECT vec_id, $intEmbSql AS ie FROM embeddings),
        av AS (SELECT vec_id, ie, ${intDotSql("ie", "ie")} AS aa FROM iv),
        ${kmeansCteSql(graft.similarity.Similarity.IvfKmeansIters, limitSql)},
        cents AS (SELECT cid, ce, ${intDotSql("ce", "ce")} AS cc
                  FROM c${graft.similarity.Similarity.IvfKmeansIters}),
        dists AS (SELECT a.vec_id, a.ie, c.cid,
                    a.aa - 2 * ${intDotSql("a.ie", "c.ce")} + c.cc AS d2
                  FROM av a, cents c),
        assign AS (SELECT vec_id, ie, cid AS cell FROM (
                     SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2, cid) AS rn FROM dists)
                   WHERE rn = 1)"""

  private val ivfPreludeSql = ivfPreludeSqlWith(IvfCells.toString)

  /** The production √N-cells operating point as SQL: numCells tracks
    * corpus size (ScaleProbe's measured law), floored at the pinned 16
    * so tiny fixtures keep a real codebook.
    */
  private val scaledCellsSql =
    "(SELECT greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** KNN classification served off an IVF index (pinned or scale-form):
    * each vector's label is predicted by majority vote over its 3
    * nearest (IVF-probed, exact-cosine-ranked) neighbors, ties to the
    * smallest label — the standard label-quality / mislabel audit at
    * corpus scale. The vote is a count + lexicographic argmax
    * (order-independent, engine-exact); the true label joins back for a
    * per-row correctness flag so downstream can aggregate accuracy
    * without re-running the vote.
    */
  private def knnClassifyDf(s: org.apache.spark.sql.SparkSession, dir: String,
      dists: org.apache.spark.sql.DataFrame,
      nQueries: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val nn = Similarity.ivfTopKFrom(dists, IvfProbe, k = 3, nQueries)
    val lab = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("lab"))
    nn.join(lab.select(col("vec_id").as("c_id"), col("lab")), "c_id")
      .groupBy(col("q_id"), col("lab")).agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(max(struct(col("votes"), (-col("lab")).as("nl"))).as("m"))
      .select(col("q_id"), (-col("m.nl")).as("pred_label"),
        col("m.votes").as("votes"))
      .join(lab.select(col("vec_id").as("q_id"), col("lab").as("true_label")), "q_id")
      .withColumn("correct",
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
      .orderBy("q_id")
  }

  /** DuckDB mirror of [[knnClassifyDf]], parameterized by the IVF
    * prelude so the pinned and √N-cells forms share one body.
    */
  private def knnClassifySql(prelude: String, panel: Boolean = false): String = s"""
    WITH $prelude${if (panel) ",\n    " + panelSql else ""},
    probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                 SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY d2, cid) AS pr
                 FROM dists d JOIN av a ON a.vec_id = d.vec_id${
                   if (panel) "\n                 JOIN panel pl ON pl.vec_id = d.vec_id" else ""})
               WHERE pr <= $IvfProbe),
    cand AS (SELECT p.q_id, s.vec_id AS c_id,
               ${intDotSql("p.q_ie", "s.ie")} AS idot,
               p.q_aa, sa.aa AS c_aa
             FROM probes p
             JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
             JOIN av sa ON sa.vec_id = s.vec_id),
    scored AS (SELECT q_id, c_id,
                 CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                      ELSE idot / (sqrt(CAST(q_aa AS DOUBLE))
                                   * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
               FROM cand),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank FROM scored),
    nn AS (SELECT q_id, c_id FROM ranked WHERE rank <= 3),
    votes AS (SELECT n.q_id, CAST(e.label AS BIGINT) AS lab, count(*) AS votes
              FROM nn n JOIN embeddings e ON e.vec_id = n.c_id
              GROUP BY 1, 2),
    pick AS (SELECT q_id, lab, votes, row_number() OVER (
               PARTITION BY q_id ORDER BY votes DESC, lab) AS rn
             FROM votes)
    SELECT p.q_id, p.lab AS pred_label, p.votes,
           CAST(e.label AS BIGINT) AS true_label,
           CAST(CASE WHEN p.lab = CAST(e.label AS BIGINT)
                THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM pick p JOIN embeddings e ON e.vec_id = p.q_id
    WHERE p.rn = 1 ORDER BY p.q_id"""

  /** DuckDB mirror of the Matryoshka prefix-rerank funnel
    * ([[Similarity.ivfPrefixRerankTopK]]), parameterized by the IVF
    * prelude so the pinned and √N-cells forms share one body.
    */
  private def prefixRerankSql(prelude: String, panel: Boolean = false): String = s"""
    WITH $prelude${if (panel) ",\n    " + panelSql else ""},
    probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                 SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY d2, cid) AS pr
                 FROM dists d JOIN av a ON a.vec_id = d.vec_id${
                   if (panel) "\n                 JOIN panel pl ON pl.vec_id = d.vec_id" else ""})
               WHERE pr <= $IvfProbe),
    coarse AS (SELECT p.q_id, s.vec_id AS c_id, p.q_ie, s.ie AS c_ie,
                 p.q_aa, sa.aa AS c_aa,
                 ${intDotSql("list_slice(p.q_ie, 1, 8)", "list_slice(s.ie, 1, 8)")} AS pdot
               FROM probes p
               JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
               JOIN av sa ON sa.vec_id = s.vec_id),
    short AS (SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY pdot DESC, c_id) AS crank FROM coarse)
              WHERE crank <= 10),
    scored AS (SELECT q_id, c_id,
                 CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                      ELSE ${intDotSql("q_ie", "c_ie")} /
                           (sqrt(CAST(q_aa AS DOUBLE))
                            * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
               FROM short),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank FROM scored)
    SELECT q_id, c_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"""

  /** DuckDB mirror of the PQ pipeline ending in `fin(vec_id, block,
    * code, q_err)`, with `sv` (subvectors+self-dots) and `c1` (the
    * trained per-block codebook) reusable by the ADC query. Exact
    * mirror of Similarity.pqSubvectors, kmeansCodebook over the Pq grain
    * and pqAssignFrom at blocks=8, k=16, iters=1.
    */
  private lazy val pqCteSql: String =
    s"""pqiv AS (SELECT vec_id, $intEmbSql AS ie FROM embeddings),
        pqbl AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS block),
        pqsv0 AS (SELECT vec_id, block,
                  list_slice(ie, block * 8 + 1, block * 8 + 8) AS sv
                FROM pqiv, pqbl),
        pqsv AS (SELECT vec_id, block, sv, ${intDotSql("sv", "sv")} AS ss FROM pqsv0),
        pqseed AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16),
        pqc0 AS (SELECT s.block, s.vec_id AS cid, s.sv AS ce
               FROM pqsv s JOIN pqseed USING (vec_id)),
        pqa1 AS (SELECT vec_id, block, sv, cid AS cell FROM (
                 SELECT v.vec_id, v.block, v.sv, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id, v.block ORDER BY
                     v.ss - 2 * ${intDotSql("v.sv", "c.ce")}
                       + ${intDotSql("c.ce", "c.ce")}, c.cid) AS rn
                 FROM pqsv v JOIN pqc0 c ON c.block = v.block) WHERE rn = 1),
        pqm1 AS (SELECT block, cell, dd.d,
                 CAST(floor(CAST(sum(a.sv[dd.d]) AS DOUBLE) / count(*))
                   AS BIGINT) AS mu
               FROM pqa1 a, (SELECT unnest(generate_series(1, 8)) AS d) dd
               GROUP BY block, cell, dd.d),
        pqmm1 AS (SELECT block, cell, list(mu ORDER BY d) AS me
                FROM pqm1 GROUP BY block, cell),
        pqc1 AS (SELECT p.block, p.cid, coalesce(m.me, p.ce) AS ce
               FROM pqc0 p LEFT JOIN pqmm1 m ON m.block = p.block AND m.cell = p.cid),
        pqfin AS (SELECT vec_id, block, cid AS code, d2 AS q_err FROM (
                  SELECT v.vec_id, v.block, c.cid,
                    v.ss - 2 * ${intDotSql("v.sv", "c.ce")}
                      + ${intDotSql("c.ce", "c.ce")} AS d2,
                    row_number() OVER (PARTITION BY v.vec_id, v.block ORDER BY
                      v.ss - 2 * ${intDotSql("v.sv", "c.ce")}
                        + ${intDotSql("c.ce", "c.ce")}, c.cid) AS rn
                  FROM pqsv v JOIN pqc1 c ON c.block = v.block) WHERE rn = 1)"""

  def all: Seq[QDef] = Seq(

    QDef(
      "sim_ivf_cells",
      (s, dir) =>
        Similarity.ivfAssignFrom(sharedIvfDists(s, dir))
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .orderBy("cell"),
      Some(s"""
        WITH $ivfPreludeSql
        SELECT cell, count(*) AS n FROM assign GROUP BY cell ORDER BY cell""")),

    QDef(
      "sim_ivf_incremental",
      (s, dir) => {
        // incremental index append (the dedup/text incremental pattern
        // on the embedding side): vec_id % 5 = 0 plays the newly
        // arrived batch. The codebook is trained on the BASE partition
        // only and FROZEN; the batch is assigned to its nearest
        // existing cell with one broadcast argmin pass — no retrain,
        // no batch×corpus shuffle; centroid drift waits for the next
        // scheduled rebuild (the production serving trade). Output is
        // the merged per-cell occupancy (base/new/total), i.e. the
        // index catalog entry a router needs after the append.
        val v = Similarity.ivfVectors(tbl(s, dir, "embeddings"), "vec_id", "embedding")
        val base = v.filter(col("v_id") % 5 =!= 0)
        val batch = v.filter(col("v_id") % 5 === 0)
        val cents = Similarity.kmeansCodebook(base, Similarity.Ivf, IvfCells,
          Similarity.IvfKmeansIters)
        val nb = Similarity.ivfAssignFrozen(base, cents)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
        val nn = Similarity.ivfAssignFrozen(batch, cents)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
        nb.join(nn, Seq("cell"), "full_outer")
          .select(col("cell"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .withColumn("n_total", col("n_base") + col("n_new"))
          .orderBy("cell")
      },
      Some(s"""
        WITH iv AS (SELECT vec_id, $intEmbSql AS ie FROM embeddings),
        av AS (SELECT vec_id, ie, ${intDotSql("ie", "ie")} AS aa FROM iv),
        avb AS (SELECT * FROM av WHERE vec_id % 5 <> 0),
        ${kmeansCteSql(graft.similarity.Similarity.IvfKmeansIters,
          IvfCells.toString, src = "avb")},
        cents AS (SELECT cid, ce, ${intDotSql("ce", "ce")} AS cc
                  FROM c${graft.similarity.Similarity.IvfKmeansIters}),
        asg AS (SELECT vec_id, cid AS cell FROM (
                  SELECT a.vec_id, c.cid,
                    row_number() OVER (PARTITION BY a.vec_id ORDER BY
                      a.aa - 2 * ${intDotSql("a.ie", "c.ce")} + c.cc, c.cid)
                      AS rn
                  FROM av a, cents c) WHERE rn = 1)
        SELECT cell,
               CAST(sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_base,
               CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_new,
               count(*) AS n_total
        FROM asg GROUP BY cell ORDER BY cell""")),

    QDef(
      "sim_ivf_topk",
      (s, dir) =>
        // probe nprobe cells, then exact-rank the candidate superset by
        // COSINE over the integer embeddings (idot/(sqrt(q·q)sqrt(c·c)),
        // all correctly-rounded IEEE ops) — raw-dot order loses recall
        // whenever corpus norms vary; see AnnRecallSpec for the recorded
        // nprobe/numCells recall sweep. Probes the SHARED ivf index.
        // The PINNED-16-cell operating point serves the deterministic
        // IvfPanel query reservoir (a constant-cells index probed by
        // all N queries is quadratic — the full-corpus serving path is
        // sim_ivf_topk_scaled, whose cells track √N).
        Similarity.ivfTopKFrom(sharedIvfDists(s, dir), IvfProbe, k = 3,
            nQueries = Some(IvfPanel))
          .orderBy("q_id", "rank"),
      Some(s"""
        WITH $ivfPreludeSql,
        $panelSql,
        probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                     SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY d2, cid) AS pr
                     FROM dists d JOIN av a ON a.vec_id = d.vec_id
                     JOIN panel pl ON pl.vec_id = d.vec_id)
                   WHERE pr <= $IvfProbe),
        cand AS (SELECT p.q_id, s.vec_id AS c_id,
                   ${intDotSql("p.q_ie", "s.ie")} AS idot,
                   p.q_aa, sa.aa AS c_aa
                 FROM probes p
                 JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
                 JOIN av sa ON sa.vec_id = s.vec_id),
        scored AS (SELECT q_id, c_id,
                     CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                          ELSE idot / (sqrt(CAST(q_aa AS DOUBLE))
                                       * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
                   FROM cand),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY cos DESC, c_id) AS rank FROM scored)
        SELECT q_id, c_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_ivf_topk_scaled",
      (s, dir) =>
        // the SCALE-FORM of sim_ivf_topk: same probe-and-exact-rank
        // retrieval, but over the √N-cells index — per-probe candidate
        // population stays ~√N as the corpus grows instead of N/16, so
        // THIS registered shape survives 100×. The pinned-16 form stays
        // registered for oracle-stable recall comparisons; ScaleProbe
        // records the law, SCALE.md the measured sf1/sf0.1 ratio.
        Similarity.ivfTopKFrom(sharedIvfDistsScaled(s, dir), IvfProbe, k = 3)
          .orderBy("q_id", "rank"),
      Some(s"""
        WITH ${ivfPreludeSqlWith(scaledCellsSql)},
        probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                     SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY d2, cid) AS pr
                     FROM dists d JOIN av a ON a.vec_id = d.vec_id)
                   WHERE pr <= $IvfProbe),
        cand AS (SELECT p.q_id, s.vec_id AS c_id,
                   ${intDotSql("p.q_ie", "s.ie")} AS idot,
                   p.q_aa, sa.aa AS c_aa
                 FROM probes p
                 JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
                 JOIN av sa ON sa.vec_id = s.vec_id),
        scored AS (SELECT q_id, c_id,
                     CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                          ELSE idot / (sqrt(CAST(q_aa AS DOUBLE))
                                       * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
                   FROM cand),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY cos DESC, c_id) AS rank FROM scored)
        SELECT q_id, c_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_knn_classify",
      (s, dir) =>
        // the pinned-16-cell vote serves the deterministic IvfPanel
        // query reservoir — its oracle-stability role (a fixed
        // operating point across corpus sizes) needs a FIXED panel,
        // not all N queries (which made this the most expensive query
        // in the sf1 replay: 42.9 s, pure quadratic candidate volume).
        // The full-corpus vote is sim_knn_classify_scaled.
        knnClassifyDf(s, dir, sharedIvfDists(s, dir), Some(IvfPanel)),
      Some(knnClassifySql(ivfPreludeSql, panel = true))),

    QDef(
      "sim_knn_classify_scaled",
      (s, dir) =>
        // the SCALE-FORM twin: the same vote served off the √N-cells
        // index, so per-probe candidate sets stay ~√N as the corpus
        // grows — no registered ANN consumer is left pinned to the
        // 16-cell operating point (the r7 verdict's remaining weak
        // spot). The pinned form stays registered for oracle-stable
        // recall comparisons across corpus sizes.
        knnClassifyDf(s, dir, sharedIvfDistsScaled(s, dir)),
      Some(knnClassifySql(ivfPreludeSqlWith(scaledCellsSql)))),

    QDef(
      "sim_corpus_spread",
      (s, dir) => {
        // embedding-cloud spread as EXACT integer moments: n,
        // sum||x||^2, and ||sum x||^2 over the quantized integer
        // embeddings — mean pairwise squared distance is the closed
        // form 2*(n*sum_sq - sum_vec_sq)/n^2, division left to the
        // caller. sum_sq is one codegen'd self-dot per row; the
        // componentwise vector sum is a posexplode + 64-key aggregation
        // (bounded by dims, not rows), then one final self-dot.
        val ie = tbl(s, dir, "embeddings")
          .select(Similarity.intEmbedding(col("embedding")).as("e"))
        val comp = ie.select(posexplode(col("e")).as(Seq("pos", "v")))
          .groupBy(col("pos")).agg(sum(col("v")).as("s"))
          .agg(sum(col("s") * col("s")).as("sum_vec_sq"))
        ie.agg(count(lit(1)).as("n"),
            sum(graft.functions.VectorExpressions.dotLong(col("e"), col("e"))).as("sum_sq"))
          // 1-row moment attaches as an uncorrelated scalar subquery —
          // no join operator at all (vs a crossJoin, which would plan a
          // nested loop and trip PlanShapeSpec)
          .withColumn("sum_vec_sq", org.apache.spark.sql.graft.ColumnBridge.scalar(comp))
      },
      Some(s"""
        WITH ie AS (SELECT $intEmbSql AS e FROM embeddings),
        sq AS (SELECT count(*) AS n,
                 CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(e, x -> x * x)), (a, b) -> a + b)) AS BIGINT)
                   AS sum_sq
               FROM ie),
        comp AS (SELECT i, sum(e[i]) AS s
                 FROM ie, (SELECT unnest(generate_series(1, $Dims)) AS i) ii
                 GROUP BY i),
        vs AS (SELECT CAST(sum(s * s) AS BIGINT) AS sum_vec_sq FROM comp)
        SELECT n, sum_sq, sum_vec_sq FROM sq, vs""")),

    QDef(
      "sim_ivf_prefix_rerank",
      (s, dir) =>
        // the Matryoshka serving funnel: IVF cells bound the candidate
        // set, a prefix-8 integer dot shortlists 10 per query at 1/8th
        // of the arithmetic, and only the shortlist pays full-width
        // cosine — probe-bound, then shortlist-bound, never
        // corpus-bound. Probes the SHARED ivf index. NOTE the funnel's
        // recall premise is an MRL-trained embedding whose prefix
        // concentrates signal; AnnRecallSpec records the measured
        // recall collapse on these isotropic synthetic vectors.
        // Pinned-cells form: serves the deterministic IvfPanel query
        // reservoir (same rationale as sim_ivf_topk — the scaled twin
        // is the full-corpus funnel).
        Similarity.ivfPrefixRerankTopK(sharedIvfDists(s, dir), IvfProbe,
            prefixDims = 8, shortlist = 10, k = 3, nQueries = Some(IvfPanel))
          .orderBy("q_id", "rank"),
      Some(prefixRerankSql(ivfPreludeSql, panel = true))),

    QDef(
      "sim_ivf_rerank_scaled",
      (s, dir) =>
        // the SCALE-FORM twin of the Matryoshka funnel: cells track √N,
        // so both funnel stages (prefix shortlist, full-width rerank)
        // see ~√N candidates per probe at any corpus size. With this
        // and sim_knn_classify_scaled, every IVF consumer has a
        // registered scale-form serving path.
        Similarity.ivfPrefixRerankTopK(sharedIvfDistsScaled(s, dir), IvfProbe,
            prefixDims = 8, shortlist = 10, k = 3)
          .orderBy("q_id", "rank"),
      Some(prefixRerankSql(ivfPreludeSqlWith(scaledCellsSql)))),

    QDef(
      "sim_cosine_topk",
      (s, dir) =>
        // brute-force exact baseline, query side bounded BY CONSTRUCTION:
        // a 20-vector deterministic hash reservoir (same set at any N),
        // broadcast past one corpus scan — O(20·N). PlanShapeSpec proves
        // the broadcast side bounded STRUCTURALLY (the limit is in its
        // subtree), so no name exception exists for this query anymore.
        // The unbounded brute form (Similarity.cosineTopK) is spec-only.
        Similarity.cosineTopKSampled(
          tbl(s, dir, "embeddings"), "vec_id", "embedding",
          nQueries = 20, k = 3)
          .orderBy("q_id", "rank"),
      Some(s"""
        WITH p AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        q AS (SELECT vec_id, emb FROM (
                SELECT vec_id, emb,
                  ${SamplingQueries.hashSql("CAST(vec_id AS VARCHAR)", 1000000000)} AS b
                FROM p) s ORDER BY b, vec_id LIMIT 20),
        scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            $dotFoldSql / (${normSql("q")} * ${normSql("c")}) AS cos
          FROM q JOIN p c ON q.vec_id != c.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id)
            AS rank FROM scored)
        SELECT q_id, c_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_ivf_recall_audit",
      (s, dir) => {
        // self-auditing retrieval quality: recall@3 of the √N-cells IVF
        // serving path against EXACT brute-force cosine ground truth on
        // the bounded 20-query hash reservoir (the same deterministic
        // query set sim_cosine_topk ranks). Truth is 20·N work — scale-
        // safe because the query set is bounded by construction; the
        // join is a 60-row broadcast lookup into the IVF result. This
        // registers the recall/latency tradeoff as a FIRST-CLASS oracled
        // query instead of a spec-only number (AnnRecallSpec), so a
        // corpus or index change that silently collapses recall fails
        // the correctness gate, not just a test. Truth ranks double
        // cosine, IVF ranks integer-quantized cosine — membership
        // overlap of the two top-3 sets is the audited quantity.
        // Expect LOW absolute recall on these isotropic synthetic
        // vectors (nprobe=2 of √N cells probes a shrinking corpus
        // fraction; no cluster structure to exploit — the same
        // documented caveat as sim_ivf_prefix_rerank): the audit's
        // value is that the number is pinned and oracled, so serving
        // changes move it VISIBLY. Production tuning scales nprobe
        // with cells to hold the probed fraction.
        val truth = Similarity.cosineTopKSampled(
            tbl(s, dir, "embeddings"), "vec_id", "embedding",
            nQueries = 20, k = 3)
          .select(col("q_id"), col("c_id"))
        val approx = Similarity.ivfTopKFrom(sharedIvfDistsScaled(s, dir), IvfProbe, k = 3)
          .select(col("q_id").as("aq"), col("c_id").as("ac"))
        truth
          .join(approx,
            col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(when(col("aq").isNotNull, 1L).otherwise(0L)).as("hits"))
          .select(col("n_truth"), col("hits"),
            (col("hits").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      },
      Some(s"""
        WITH ${ivfPreludeSqlWith(scaledCellsSql)},
        probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                     SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY d2, cid) AS pr
                     FROM dists d JOIN av a ON a.vec_id = d.vec_id)
                   WHERE pr <= $IvfProbe),
        acand AS (SELECT p.q_id, s.vec_id AS c_id,
                    ${intDotSql("p.q_ie", "s.ie")} AS idot,
                    p.q_aa, sa.aa AS c_aa
                  FROM probes p
                  JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
                  JOIN av sa ON sa.vec_id = s.vec_id),
        ascored AS (SELECT q_id, c_id,
                      CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                           ELSE idot / (sqrt(CAST(q_aa AS DOUBLE))
                                        * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
                    FROM acand),
        approx AS (SELECT q_id, c_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, c_id) AS rank FROM ascored)
                   WHERE rank <= 3),
        p AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings),
        tq AS (SELECT vec_id, emb FROM (
                 SELECT vec_id, emb,
                   ${SamplingQueries.hashSql("CAST(vec_id AS VARCHAR)", 1000000000)} AS b
                 FROM p) s ORDER BY b, vec_id LIMIT 20),
        tscored AS (
          SELECT tq.vec_id AS q_id, c.vec_id AS c_id,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(tq.emb, c.emb), z -> z[1] * z[2])),
              (acc, x) -> acc + x) /
            (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(tq.emb, tq.emb), z -> z[1] * z[2])),
               (acc, x) -> acc + x)) *
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(c.emb, c.emb), z -> z[1] * z[2])),
               (acc, x) -> acc + x))) AS cos
          FROM tq JOIN p c ON tq.vec_id != c.vec_id),
        truth AS (SELECT q_id, c_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, c_id) AS rank FROM tscored)
                  WHERE rank <= 3)
        SELECT count(*) AS n_truth,
               CAST(sum(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS hits,
               CAST(sum(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        FROM truth t LEFT JOIN approx a
          ON a.q_id = t.q_id AND a.c_id = t.c_id""")),

    QDef(
      "sim_ivf_ndcg_audit",
      (s, dir) => {
        // graded companion to sim_ivf_recall_audit: nDCG@3 of the
        // √N-cells IVF serving path judged by exact brute-force cosine
        // ground truth on the same bounded 20-query reservoir.
        // Relevance of truth rank r is 4−r (3/2/1); the approx list's
        // DCG discounts each hit by its SERVING rank, so a correct set
        // retrieved in the wrong order scores below recall — the metric
        // ranking changes move that recall can't see. Discounts are
        // PortableLog fixed-point (gain = rel·2^20 div log2q10(rank+1),
        // exact integers), the single nDCG division is one IEEE op.
        // Same scale shape as the recall audit: truth is 20·N bounded
        // work, everything downstream is 60-row frames.
        import graft.functions.PortableLog.log2q10
        val truth = Similarity.cosineTopKSampled(
            tbl(s, dir, "embeddings"), "vec_id", "embedding",
            nQueries = 20, k = 3)
          .select(col("q_id"), col("c_id"),
            (lit(4L) - col("rank")).as("rel"), col("rank"))
        val approx = Similarity.ivfTopKFrom(sharedIvfDistsScaled(s, dir), IvfProbe, k = 3)
          .select(col("q_id").as("aq"), col("c_id").as("ac"),
            col("rank").as("a_rank"))
          .join(truth.select(col("q_id")).distinct(),
            col("aq") === col("q_id"), "left_semi")
        val dcg = approx
          .join(truth.select(col("q_id").as("tq"), col("c_id").as("tc"),
              col("rel")),
            col("aq") === col("tq") && col("ac") === col("tc"), "left")
          .select(col("aq"),
            (coalesce(col("rel"), lit(0L)) * 1048576L).as("g_num"),
            log2q10(col("a_rank") + 1).as("disc"))
          .select(col("aq"), expr("g_num div disc").as("g"))
          .groupBy(col("aq")).agg(sum(col("g")).as("dcg_q20"))
        val idcg = truth
          .select(col("q_id"), (col("rel") * 1048576L).as("g_num"),
            log2q10(col("rank") + 1).as("disc"))
          .select(col("q_id"), expr("g_num div disc").as("g"))
          .groupBy(col("q_id")).agg(sum(col("g")).as("idcg_q20"))
        idcg.join(dcg, col("q_id") === col("aq"), "left")
          .select(col("q_id"),
            coalesce(col("dcg_q20"), lit(0L)).as("dcg_q20"),
            col("idcg_q20"),
            (coalesce(col("dcg_q20"), lit(0L)).cast("double") /
              col("idcg_q20").cast("double")).as("ndcg"))
          .orderBy(col("q_id"))
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        ${ivfPreludeSqlWith(scaledCellsSql)},
        probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                     SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY d2, cid) AS pr
                     FROM dists d JOIN av a ON a.vec_id = d.vec_id)
                   WHERE pr <= $IvfProbe),
        acand AS (SELECT p.q_id, s.vec_id AS c_id,
                    ${intDotSql("p.q_ie", "s.ie")} AS idot,
                    p.q_aa, sa.aa AS c_aa
                  FROM probes p
                  JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
                  JOIN av sa ON sa.vec_id = s.vec_id),
        ascored AS (SELECT q_id, c_id,
                      CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                           ELSE idot / (sqrt(CAST(q_aa AS DOUBLE))
                                        * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
                    FROM acand),
        approx AS (SELECT q_id, c_id, rank FROM (
                     SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, c_id) AS rank FROM ascored)
                   WHERE rank <= 3),
        p AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings),
        tq AS (SELECT vec_id, emb FROM (
                 SELECT vec_id, emb,
                   ${SamplingQueries.hashSql("CAST(vec_id AS VARCHAR)", 1000000000)} AS b
                 FROM p) s ORDER BY b, vec_id LIMIT 20),
        tscored AS (
          SELECT tq.vec_id AS q_id, c.vec_id AS c_id,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_zip(tq.emb, c.emb), z -> z[1] * z[2])),
              (acc, x) -> acc + x) /
            (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(tq.emb, tq.emb), z -> z[1] * z[2])),
               (acc, x) -> acc + x)) *
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(c.emb, c.emb), z -> z[1] * z[2])),
               (acc, x) -> acc + x))) AS cos
          FROM tq JOIN p c ON tq.vec_id != c.vec_id),
        truth AS (SELECT q_id, c_id, 4 - rank AS rel, rank FROM (
                    SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, c_id) AS rank FROM tscored)
                  WHERE rank <= 3),
        dcg AS (SELECT a.q_id,
                  CAST(sum((COALESCE(t.rel, 0) * 1048576)
                    // ${graft.functions.PortableLog.log2q10Sql("a.rank + 1")})
                    AS BIGINT) AS dcg_q20
                FROM approx a
                LEFT JOIN truth t ON t.q_id = a.q_id AND t.c_id = a.c_id, l2t
                WHERE a.q_id IN (SELECT q_id FROM truth)
                GROUP BY a.q_id),
        idcg AS (SELECT q_id,
                   CAST(sum((rel * 1048576)
                     // ${graft.functions.PortableLog.log2q10Sql("rank + 1")})
                     AS BIGINT) AS idcg_q20
                 FROM truth, l2t GROUP BY q_id)
        SELECT i.q_id, COALESCE(d.dcg_q20, 0) AS dcg_q20, i.idcg_q20,
               CAST(COALESCE(d.dcg_q20, 0) AS DOUBLE)
                 / CAST(i.idcg_q20 AS DOUBLE) AS ndcg
        FROM idcg i LEFT JOIN dcg d ON d.q_id = i.q_id
        ORDER BY i.q_id""")),

    QDef(
      "sim_ann_lsh_buckets",
      (s, dir) =>
        tbl(s, dir, "embeddings")
          .select(col("vec_id"),
            Similarity.lshBucket(col("embedding"), Planes, Dims).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some(s"""
        WITH b AS (
          SELECT vec_id, CAST($bucketSql AS BIGINT) AS bucket
          FROM (SELECT vec_id, $intEmbSql AS ie FROM embeddings))
        SELECT bucket, count(*) AS n FROM b GROUP BY bucket ORDER BY bucket""")),

    QDef(
      "sim_ann_topk",
      (s, dir) =>
        Similarity.annTopK(
          tbl(s, dir, "embeddings").filter(col("vec_id") < 100),
          "vec_id", "embedding", Planes, Dims, k = 3)
          .orderBy("q_id", "rank"),
      Some(s"""
        WITH v AS (
          SELECT vec_id, ie, CAST($bucketSql AS BIGINT) AS bucket
          FROM (SELECT vec_id, $intEmbSql AS ie FROM embeddings WHERE vec_id < 100)),
        pairs AS (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(list_zip(q.ie, c.ie), z -> z[1] * z[2])),
              (acc, x) -> acc + x) AS idot
          FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY idot DESC, c_id)
            AS rank FROM pairs)
        SELECT q_id, c_id, idot, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_quantize_int8",
      (s, dir) =>
        // storage compression before ANN serving: symmetric per-vector
        // int8, scale = max |x|, q = max(-127, floor(x*127/scale)) —
        // every step a single IEEE double op, so the oracle reproduces
        // the quantized arrays bit-for-bit. Pure projection, no shuffle;
        // the plan stays one row per vector (the earlier posexplode
        // emitted dims×N rows: 12.9× write-bound at sf1), but the ARRAY
        // is serialized to a canonical CSV string AT THE QUERY EDGE —
        // the official comparer canonicalizes via pandas sort_values
        // and cannot hash ndarray cells (r8 gate regression), so
        // registered outputs carry no ARRAY columns (RegistrySpec
        // enforces this). array_join mirrors DuckDB array_to_string
        // exactly for integer elements.
        Similarity.quantizeInt8(tbl(s, dir, "embeddings"), "vec_id", "embedding")
          .select(col("vec_id"), col("scale"),
            array_join(transform(col("q"), _.cast("string")), ",").as("q_csv"))
          .orderBy("vec_id"),
      Some("""
        SELECT vec_id, scale,
               array_to_string(
                 CASE WHEN scale = 0 THEN list_transform(vec, v -> 0)
                      ELSE list_transform(vec, v -> CAST(
                        greatest(-127.0, floor(CAST(v AS DOUBLE) * 127.0 / scale))
                        AS INT)) END, ',') AS q_csv
        FROM (SELECT vec_id, embedding AS vec,
                list_max(list_transform(embedding,
                  v -> abs(CAST(v AS DOUBLE)))) AS scale
              FROM embeddings)
        ORDER BY vec_id""")),

    QDef(
      "sim_int8_adc_topk",
      (s, dir) => {
        // the serving half of sim_quantize_int8: asymmetric distance
        // computation (ADC) — full-precision queries scored against the
        // int8-quantized corpus, the standard memory/recall trade in
        // production ANN (4x smaller corpus residency, integer SIMD
        // dots). Score = scale_c · Σ qi_d · q8_d: the integer dot is
        // exact in any engine and the per-vector dequantize is ONE IEEE
        // multiply, so the oracle reproduces every score bit-for-bit.
        // Query side is the same bounded 20-vector hash reservoir as
        // sim_cosine_topk (broadcast past one corpus scan, O(20·N);
        // PlanShapeSpec proves the broadcast side bounded structurally).
        import org.apache.spark.sql.expressions.Window
        val emb = tbl(s, dir, "embeddings")
        val c8 = Similarity.quantizeInt8(emb, "vec_id", "embedding")
          .select(col("vec_id").as("c_id"), col("scale"),
            col("q").cast("array<bigint>").as("q8"))
        val q = emb.select(col("vec_id").as("q_id"),
            Similarity.intEmbedding(col("embedding")).as("qi"),
            graft.operators.Sampling.hashBucket(col("vec_id"), 1000000000)
              .as("__b"))
          .orderBy(col("__b"), col("q_id")).limit(20).drop("__b")
        c8.crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("score", col("scale") *
            graft.functions.VectorExpressions.dotLong(col("qi"), col("q8")))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("score").desc, col("c_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("c_id"), col("score"), col("rank"))
          .orderBy("q_id", "rank")
      },
      Some(s"""
        WITH cq AS (
          SELECT vec_id AS c_id, scale,
            CASE WHEN scale = 0 THEN list_transform(vec, v -> CAST(0 AS BIGINT))
                 ELSE list_transform(vec, v -> CAST(
                   greatest(-127.0, floor(CAST(v AS DOUBLE) * 127.0 / scale))
                   AS BIGINT)) END AS q8
          FROM (SELECT vec_id, embedding AS vec,
                  list_max(list_transform(embedding,
                    v -> abs(CAST(v AS DOUBLE)))) AS scale
                FROM embeddings)),
        q AS (SELECT vec_id AS q_id, qi FROM (
                SELECT vec_id, $intEmbSql AS qi,
                  ${SamplingQueries.hashSql("CAST(vec_id AS VARCHAR)", 1000000000)} AS b
                FROM embeddings) s ORDER BY b, vec_id LIMIT 20),
        scored AS (
          SELECT q.q_id, c.c_id,
            c.scale * list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(list_zip(q.qi, c.q8), z -> z[1] * z[2])),
              (acc, x) -> acc + x) AS score
          FROM q JOIN cq c ON q.q_id != c.c_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, c_id) AS rank FROM scored)
        SELECT q_id, c_id, score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_ivf_cells_curve",
      (s, dir) => {
        // the IVF TUNING curve — the ANN sibling of
        // pipeline_dedup_threshold_curve: sweep the codebook size
        // k ∈ {4,16,64} and report inertia (Σ min-d² — reconstruction
        // quality), non-empty cells, and the largest cell (probe-cost
        // skew) per k. Read before choosing numCells at a new corpus
        // scale. Each k trains the same deterministic 2-iteration
        // k-means as the serving index (seeded, integer distances) and
        // is consumed by ONE aggregate chain, so each codebook trains
        // once; centroids ride broadcast, assignment is map-side.
        def rowFor(k: Int) = {
          val perVec = Similarity.nearestCell(Similarity.ivfDists(
            tbl(s, dir, "embeddings"), "vec_id", "embedding", k), Similarity.Ivf)
          perVec.groupBy(col("cell"))
            .agg(sum(col("d2")).as("ci"), count(lit(1)).as("n"))
            .agg(sum(col("ci")).as("inertia"),
              count(lit(1)).as("n_cells_used"),
              max(col("n")).as("max_cell"))
            .select(lit(k).as("num_cells"), col("inertia"),
              col("n_cells_used"), col("max_cell"))
        }
        Seq(4, 16, 64).map(rowFor).reduce(_ unionByName _).orderBy("num_cells")
      },
      Some {
        val iters = graft.similarity.Similarity.IvfKmeansIters
        def block(k: Int) = {
          val p = s"k${k}_"
          s"""${kmeansCteSql(iters, k.toString, p)},
          ${p}d AS (SELECT v.vec_id, c.cid,
              v.aa - 2 * ${intDotSql("v.ie", "c.ce")}
                + ${intDotSql("c.ce", "c.ce")} AS d2
            FROM av v, ${p}c$iters c),
          ${p}as AS (SELECT vec_id, cid AS cell, d2 AS d2min FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cid) AS rn FROM ${p}d) WHERE rn = 1),
          ${p}pc AS (SELECT cell, sum(d2min) AS ci, count(*) AS n
            FROM ${p}as GROUP BY cell),
          ${p}st AS (SELECT $k AS num_cells,
              CAST(sum(ci) AS BIGINT) AS inertia,
              count(*) AS n_cells_used, CAST(max(n) AS BIGINT) AS max_cell
            FROM ${p}pc)"""
        }
        s"""WITH iv AS (SELECT vec_id, $intEmbSql AS ie FROM embeddings),
            av AS (SELECT vec_id, ie, ${intDotSql("ie", "ie")} AS aa FROM iv),
            ${Seq(4, 16, 64).map(block).mkString(",\n")}
            SELECT * FROM k4_st
            UNION ALL SELECT * FROM k16_st
            UNION ALL SELECT * FROM k64_st
            ORDER BY num_cells"""
      }),

    QDef(
      "sim_jl_projection",
      (s, dir) =>
        // dimensionality reduction for storage/serving: project the
        // 64-dim embedding onto 16 fixed pseudo-random integer
        // hyperplanes (JL-style; same deterministic weight family as the
        // LSH planes, so the oracle reproduces every coordinate as an
        // exact int64 dot). One row per vector; pure projection, no
        // shuffle. The projected vector is emitted as a canonical CSV
        // string (not ARRAY) — see sim_quantize_int8 / RegistrySpec:
        // the official comparer cannot hash ARRAY cells.
        Similarity.randomProjection(
            tbl(s, dir, "embeddings"), "vec_id", "embedding",
            outDims = JlDims, dims = Dims)
          .select(col("vec_id"),
            array_join(transform(col("proj"), _.cast("string")), ",")
              .as("proj_csv"))
          .orderBy("vec_id"),
      Some(s"""
        SELECT vec_id,
               array_to_string(
                 [${(0 until JlDims).map(planeDotSql).mkString(",\n                  ")}],
                 ',') AS proj_csv
        FROM (SELECT vec_id, $intEmbSql AS ie FROM embeddings)
        ORDER BY vec_id""")),

    QDef(
      "sim_hard_negatives",
      (s, dir) => {
        // hard-negative mining for contrastive/retrieval training: per
        // query vector, the 2 most-similar IVF-probed candidates whose
        // LABEL differs — semantically close but known-different, the
        // pairs a contrastive loss learns most from. The label filter
        // runs BEFORE ranking (top-k can't see it), so this serves off
        // the candidate frame, not ivfTopKFrom; same √N-cells index and
        // per-cell candidate bound as every scaled ANN consumer.
        import org.apache.spark.sql.expressions.Window
        val lab = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("lab"))
        Similarity.ivfCandidatesFrom(sharedIvfDistsScaled(s, dir), IvfProbe)
          .join(lab.select(col("vec_id").as("q_id"), col("lab").as("q_lab")), "q_id")
          .join(lab.select(col("vec_id").as("c_id"), col("lab").as("neg_lab")), "c_id")
          .filter(col("q_lab") =!= col("neg_lab"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
          .filter(col("rank") <= 2)
          .select(col("q_id"), col("q_lab"), col("c_id").as("neg_id"),
            col("neg_lab"), col("cos"), col("rank"))
          .orderBy("q_id", "rank")
      },
      Some(s"""
        WITH ${ivfPreludeSqlWith(scaledCellsSql)},
        probes AS (SELECT vec_id AS q_id, ie AS q_ie, aa AS q_aa, cid AS cell FROM (
                     SELECT d.*, a.aa, row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY d2, cid) AS pr
                     FROM dists d JOIN av a ON a.vec_id = d.vec_id)
                   WHERE pr <= $IvfProbe),
        cand AS (SELECT p.q_id, s.vec_id AS c_id,
                   ${intDotSql("p.q_ie", "s.ie")} AS idot,
                   p.q_aa, sa.aa AS c_aa
                 FROM probes p
                 JOIN assign s ON s.cell = p.cell AND s.vec_id != p.q_id
                 JOIN av sa ON sa.vec_id = s.vec_id),
        scored AS (SELECT q_id, c_id,
                     CASE WHEN q_aa = 0 OR c_aa = 0 THEN 0.0
                          ELSE idot / (sqrt(CAST(q_aa AS DOUBLE))
                                       * sqrt(CAST(c_aa AS DOUBLE))) END AS cos
                   FROM cand),
        neg AS (SELECT s.q_id, CAST(eq.label AS BIGINT) AS q_lab,
                  s.c_id, CAST(ec.label AS BIGINT) AS neg_lab, s.cos
                FROM scored s
                JOIN embeddings eq ON eq.vec_id = s.q_id
                JOIN embeddings ec ON ec.vec_id = s.c_id
                WHERE CAST(eq.label AS BIGINT) != CAST(ec.label AS BIGINT)),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY cos DESC, c_id) AS rank FROM neg)
        SELECT q_id, q_lab, c_id AS neg_id, neg_lab, cos,
               CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 2 ORDER BY q_id, rank""")),

    QDef(
      "sim_label_centroids",
      (s, dir) =>
        // per-label centroid of the integer embedding (floor-mean per
        // dimension, the kmeans convention: floor of a double division
        // on sums < 2^52 is bit-reproducible) — the embedding-drift /
        // class-prototype monitor a training pipeline runs per batch.
        // One explode + one map-side-combined groupBy on (label, dim);
        // output is |labels|·dims rows, independent of corpus size.
        tbl(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            posexplode(Similarity.intEmbedding(col("embedding")))
              .as(Seq("dim", "v")))
          .groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
            floor(col("sv").cast("double") / col("n")).cast("long").as("c"))
          .orderBy("label", "dim"),
      Some(s"""
        WITH iv AS (SELECT CAST(label AS BIGINT) AS label, $intEmbSql AS ie
                    FROM embeddings),
        x AS (SELECT label, dd.d, ie[dd.d] AS v
              FROM iv, (SELECT unnest(generate_series(1, $Dims)) AS d) dd)
        SELECT label, CAST(d - 1 AS BIGINT) AS dim, count(*) AS n,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS c
        FROM x GROUP BY label, d ORDER BY label, dim""")),

    QDef(
      "dedup_semantic",
      (s, dir) => {
        // SemDeDup: k-means cells block, exact cosine verifies, CC picks
        // one survivor per semantic cluster. Every vector gets a row;
        // unpaired vectors survive as themselves (same contract as
        // dedup_survivors over documents).
        val labels = sharedSemanticLabels(s, dir)
        tbl(s, dir, "embeddings").select(col("vec_id"))
          .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("label"), col("vec_id")).as("survivor_id"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH RECURSIVE $ivfPreludeSql,
        sp AS (SELECT qa.vec_id AS a, qb.vec_id AS b
               FROM assign qa
               JOIN assign qb ON qb.cell = qa.cell AND qa.vec_id < qb.vec_id
               JOIN av na ON na.vec_id = qa.vec_id
               JOIN av nb ON nb.vec_id = qb.vec_id
               WHERE CASE WHEN na.aa = 0 OR nb.aa = 0 THEN 0.0
                     ELSE ${intDotSql("qa.ie", "qb.ie")} /
                          (sqrt(CAST(na.aa AS DOUBLE)) * sqrt(CAST(nb.aa AS DOUBLE)))
                     END >= $SemMinCos),
        e AS (SELECT a AS u, b AS v FROM sp
              UNION SELECT b AS u, a AS v FROM sp),
        reach(u, m) AS (
          SELECT u, u AS m FROM (SELECT DISTINCT u FROM e)
          UNION
          SELECT r.u, e.v AS m FROM reach r JOIN e ON r.m = e.u),
        comp AS (SELECT u AS vec_id, min(m) AS survivor_id
                 FROM reach GROUP BY u)
        SELECT v.vec_id, coalesce(c.survivor_id, v.vec_id) AS survivor_id
        FROM embeddings v LEFT JOIN comp c USING (vec_id)
        ORDER BY vec_id""")),

    QDef(
      "sim_pq_codes",
      (s, dir) =>
        // product quantization: 64 dims -> 8 blocks x 16-centroid
        // per-block codebooks (one refinement sweep at the oracle
        // operating point) -> one code per block + the residual d2 as a
        // self-auditing q_err. The corpus is only ever joined to the
        // broadcast 128-row codebook — never to itself; PqSpec checks
        // the argmin against brute force and that training reduces
        // total quantization error. Probes the SHARED code table.
        sharedPqCodes(s, dir)
          .withColumnRenamed("v_id", "vec_id")
          .orderBy("vec_id", "block"),
      Some(s"""
        WITH $pqCteSql
        SELECT vec_id, block, code, q_err FROM pqfin ORDER BY vec_id, block""")),

    QDef(
      "sim_pq_adc_topk",
      (s, dir) =>
        // ADC serving over the shared PQ index: queries build a tiny
        // per-block distance table to the codebook, candidates are
        // scored through their CODES alone (an equi-join on
        // (block, code) + a per-pair sum — corpus vectors never read at
        // query time). The documented bounded query set mirrors
        // sim_cosine_topk's.
        Similarity.pqAdcTopK(
            sharedPqSv(s, dir), sharedPqCents(s, dir), sharedPqCodes(s, dir),
            queryPred = col("v_id") < 20, topK = 3)
          .orderBy("q_id", "rank"),
      Some(s"""
        WITH $pqCteSql,
        qsv AS (SELECT * FROM pqsv WHERE vec_id < 20),
        dtab AS (SELECT q.vec_id AS q_id, q.block, c.cid,
                   q.ss - 2 * ${intDotSql("q.sv", "c.ce")}
                     + ${intDotSql("c.ce", "c.ce")} AS qd2
                 FROM qsv q JOIN pqc1 c ON c.block = q.block),
        ad AS (SELECT d.q_id, f.vec_id AS c_id,
                 CAST(sum(d.qd2) AS BIGINT) AS approx_d2
               FROM pqfin f
               JOIN dtab d ON d.block = f.block AND d.cid = f.code
                 AND d.q_id != f.vec_id
               GROUP BY d.q_id, f.vec_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY approx_d2, c_id) AS rank FROM ad)
        SELECT q_id, c_id, approx_d2, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_ivf_pq_topk",
      (s, dir) =>
        // the production ANN architecture, composed from the two shared
        // indexes: IVF cells bound the candidate set (coarse), PQ codes
        // bound the bytes per candidate (fine) — queries probe nprobe
        // cells and ADC-score only those members, never reading corpus
        // vectors. Everything here is artifact reuse: the IVF distance
        // frame, the PQ codebook, and the code table are each built
        // once per corpus and probed by this and the sibling queries.
        Similarity.ivfPqTopK(
            sharedIvfDists(s, dir), sharedPqSv(s, dir),
            sharedPqCents(s, dir), sharedPqCodes(s, dir),
            nprobe = IvfProbe, queryPred = col("v_id") < 20, topK = 3)
          .orderBy("q_id", "rank"),
      Some(s"""
        WITH $ivfPreludeSql,
        $pqCteSql,
        qprobes AS (SELECT vec_id AS q_id, cid AS cell FROM (
            SELECT d.vec_id, d.cid, row_number() OVER (PARTITION BY d.vec_id
              ORDER BY d.d2, d.cid) AS pr
            FROM dists d WHERE d.vec_id < 20) WHERE pr <= $IvfProbe),
        qcand AS (SELECT p.q_id, a.vec_id AS c_id
                  FROM qprobes p
                  JOIN assign a ON a.cell = p.cell AND a.vec_id != p.q_id),
        qdtab AS (SELECT q.vec_id AS q_id, q.block, c.cid,
                    q.ss - 2 * ${intDotSql("q.sv", "c.ce")}
                      + ${intDotSql("c.ce", "c.ce")} AS qd2
                  FROM pqsv q JOIN pqc1 c ON c.block = q.block
                  WHERE q.vec_id < 20),
        qad AS (SELECT n.q_id, n.c_id, CAST(sum(d.qd2) AS BIGINT) AS approx_d2
                FROM qcand n
                JOIN pqfin f ON f.vec_id = n.c_id
                JOIN qdtab d ON d.q_id = n.q_id AND d.block = f.block
                  AND d.cid = f.code
                GROUP BY n.q_id, n.c_id),
        qr AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY approx_d2, c_id) AS rank FROM qad)
        SELECT q_id, c_id, approx_d2, CAST(rank AS INT) AS rank
        FROM qr WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef(
      "sim_label_outliers",
      (s, dir) =>
        // embedding-quality audit: the 3 vectors per label farthest from
        // their own label's centroid (lowest cosine) — the mislabel
        // sweep before labels drive mixing/eval splits. Centroid =
        // per-dim floor(mean) of the INTEGER embedding (order-free
        // sums); one (label, dim) groupBy, centroids broadcast back.
        Similarity.labelOutliers(tbl(s, dir, "embeddings"),
            "vec_id", "embedding", "label", k = 3)
          .orderBy("label", "rank"),
      Some(s"""
        WITH iv AS (SELECT vec_id, label, $intEmbSql AS ie FROM embeddings),
        av AS (SELECT vec_id, label, ie, ${intDotSql("ie", "ie")} AS aa FROM iv),
        m AS (SELECT label, dd.d,
                CAST(floor(CAST(sum(a.ie[dd.d]) AS DOUBLE) / count(*)) AS BIGINT) AS mu
              FROM av a, (SELECT unnest(generate_series(1, $Dims)) AS d) dd
              GROUP BY label, dd.d),
        cents AS (SELECT label, list(mu ORDER BY d) AS ce FROM m GROUP BY label),
        cc AS (SELECT label, ce, ${intDotSql("ce", "ce")} AS cc FROM cents),
        scored AS (SELECT a.label, a.vec_id,
                     CASE WHEN a.aa = 0 OR c.cc = 0 THEN 0.0
                          ELSE ${intDotSql("a.ie", "c.ce")} /
                               (sqrt(CAST(a.aa AS DOUBLE)) * sqrt(CAST(c.cc AS DOUBLE)))
                     END AS cos
                   FROM av a JOIN cc c ON c.label = a.label),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY label
                     ORDER BY cos ASC, vec_id) AS rank FROM scored)
        SELECT label, vec_id, cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY label, rank""")),

    QDef(
      "sim_mips_pruned",
      (s, dir) => {
        // maximum-inner-product top-5 with a CERTIFIED Cauchy–Schwarz
        // prune, entirely on the exact integer lane: dot(q,x)² ≤
        // ‖q‖²·‖x‖², so after one cheap pass ranks candidates by the
        // norm bound and five exact dots set the threshold t, every
        // vector with ‖q‖²‖x‖² < t² (t>0) provably cannot reach the
        // top-5 — the full-dimension dot runs only on the survivors.
        // At 100 TB the bound pass reads one precomputable long per
        // vector instead of 64 floats; correctness never depends on the
        // prune (it is a certificate, not a heuristic), and integer
        // arithmetic makes the oracle bit-exact.
        val emb = tbl(s, dir, "embeddings")
          .select(col("vec_id"),
            Similarity.intEmbedding(col("embedding")).as("ie"))
        val qEmb = org.apache.spark.sql.graft.ColumnBridge.scalar(
          emb.filter(col("vec_id") === 0).select(col("ie")))
        val scored = emb.filter(col("vec_id") =!= 0)
          .withColumn("b2",
            graft.functions.VectorExpressions.dotLong(col("ie"), col("ie")) *
              org.apache.spark.sql.graft.ColumnBridge.scalar(
                emb.filter(col("vec_id") === 0).select(
                  graft.functions.VectorExpressions.dotLong(col("ie"), col("ie"))
                    .as("qq"))))
        val phase1 = scored.orderBy(col("b2").desc, col("vec_id")).limit(5)
          .select(graft.functions.VectorExpressions
            .dotLong(col("ie"), qEmb).as("dot"))
        val t = org.apache.spark.sql.graft.ColumnBridge.scalar(
          phase1.agg(min(col("dot")).as("t")))
        scored
          .filter(col("b2") >=
            when(t > 0, t * t).otherwise(lit(Long.MinValue)))
          .select(col("vec_id").as("c_id"),
            graft.functions.VectorExpressions.dotLong(col("ie"), qEmb)
              .as("dot_x1e6"))
          .orderBy(col("dot_x1e6").desc, col("c_id")).limit(5)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("dot_x1e6").desc, col("c_id"))).cast("long"))
      },
      Some(s"""
        WITH iv AS (SELECT vec_id, $intEmbSql AS ie FROM embeddings),
        q AS (SELECT ie AS qe FROM iv WHERE vec_id = 0),
        sc AS (SELECT vec_id AS c_id,
                 ${intDotSql("ie", "(SELECT qe FROM q)")} AS dot_x1e6
               FROM iv WHERE vec_id <> 0)
        SELECT c_id, dot_x1e6,
               CAST(row_number() OVER (ORDER BY dot_x1e6 DESC, c_id) AS BIGINT)
                 AS rank
        FROM sc ORDER BY dot_x1e6 DESC, c_id LIMIT 5""")),

    QDef(
      "sim_rrf_fusion",
      (s, dir) => {
        // reciprocal-rank fusion (Cormack et al. 2009) of two exact
        // retrievers for query vector 0 — inner-product ranking and
        // L2 ranking (d² = ‖x‖² − 2·dot + ‖q‖²; the constant ‖q‖²
        // drops out of the ordering, so the sort key stays an exact
        // integer). Each list is a TakeOrderedAndProject top-20 (no
        // global window over N), ranks attach on the 20-row frames, a
        // full-outer join fuses, and RRF = Σ 1/(60+rank) over lists
        // that retrieved the item — both engines evaluate the same
        // two-term IEEE sum, so the float is deterministic.
        import org.apache.spark.sql.expressions.Window
        val emb = tbl(s, dir, "embeddings")
          .select(col("vec_id"), Similarity.intEmbedding(col("embedding")).as("ie"))
        val qIe = org.apache.spark.sql.graft.ColumnBridge.scalar(
          emb.filter(col("vec_id") === 0).select(col("ie")))
        val sc = emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            graft.functions.VectorExpressions.dotLong(col("ie"), qIe).as("dot"),
            graft.functions.VectorExpressions.dotLong(col("ie"), col("ie")).as("n2"))
        val td = sc.orderBy(col("dot").desc, col("vec_id")).limit(20)
          .withColumn("rank_dot", row_number().over(
            Window.orderBy(col("dot").desc, col("vec_id"))).cast("long"))
          .select(col("vec_id"), col("rank_dot"))
        val te = sc.select(col("vec_id"), (col("n2") - lit(2L) * col("dot")).as("k2"))
          .orderBy(col("k2").asc, col("vec_id")).limit(20)
          .withColumn("rank_l2", row_number().over(
            Window.orderBy(col("k2").asc, col("vec_id"))).cast("long"))
          .select(col("vec_id"), col("rank_l2"))
        td.join(te, Seq("vec_id"), "full_outer")
          .select(col("vec_id").as("c_id"), col("rank_dot"), col("rank_l2"),
            (coalesce(lit(1.0) / (lit(60L) + col("rank_dot")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60L) + col("rank_l2")), lit(0.0)))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("c_id")).limit(5)
      },
      Some(s"""
        WITH iv AS (SELECT vec_id, $intEmbSql AS ie FROM embeddings),
        q AS (SELECT ie AS qe FROM iv WHERE vec_id = 0),
        sc AS (SELECT vec_id,
                 ${intDotSql("ie", "(SELECT qe FROM q)")} AS dot,
                 ${intDotSql("ie", "ie")} AS n2
               FROM iv WHERE vec_id <> 0),
        td AS (SELECT vec_id,
                 CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT)
                   AS rank_dot
               FROM sc ORDER BY dot DESC, vec_id LIMIT 20),
        te AS (SELECT vec_id,
                 CAST(row_number() OVER (ORDER BY n2 - 2 * dot, vec_id) AS BIGINT)
                   AS rank_l2
               FROM sc ORDER BY n2 - 2 * dot, vec_id LIMIT 20)
        SELECT coalesce(td.vec_id, te.vec_id) AS c_id, rank_dot, rank_l2,
               coalesce(CAST(1 AS DOUBLE) / (60 + rank_dot), CAST(0 AS DOUBLE)) +
                 coalesce(CAST(1 AS DOUBLE) / (60 + rank_l2), CAST(0 AS DOUBLE))
                 AS rrf
        FROM td FULL OUTER JOIN te ON te.vec_id = td.vec_id
        ORDER BY rrf DESC, c_id LIMIT 5""")),

    QDef(
      "sim_pca_power",
      (s, dir) => {
        // per-label leading eigenvalue of the embedding second-moment
        // matrix — power iteration with every iterate an exact integer
        // (Long matvec + arithmetic-shift renormalization), so a
        // linear-algebra result passes the hash gate. One aggregation
        // per label keeps its 64×64 Gram and runs the PcaIters rounds
        // in memory.
        Similarity.gramPowerTopEig(tbl(s, dir, "embeddings"), "embedding",
          "label", Dims, PcaIters)
      },
      Some(pcaOracleSql(Dims, PcaIters)))
  )

  // 5 rounds: the Rayleigh quotient is already converged to <1e-3 rel
  // error on this spectrum by round 4 (PcaPowerSpec brute-force check);
  // extra rounds only buy the oracle's per-round CTE scans
  private val PcaIters = 5

  /** DuckDB mirror of [[Similarity.gramPowerTopEig]]: the same integer
    * algorithm with the `iters` matvec+renorm rounds unrolled as CTE
    * layers. Every round CTE is MATERIALIZED — each layer references the
    * previous twice, so inlining (DuckDB's default) replays 2^iters
    * plans; materialization makes it `iters` tiny scans (exact integers
    * throughout, so materialization can't change the result). The Gram
    * build is a single-unnest self-join on vec_id — |vectors|·dims
    * narrow rows joined once — not a dims² nested unnest that would
    * materialize |vectors|·dims² rows each dragging the full list.
    */
  private def pcaOracleSql(dims: Int, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
            SELECT c.label, c.i, CAST(sum(c.g2 * v.vj) AS BIGINT) AS raw
            FROM c2 c JOIN v${k - 1} v ON v.label = c.label AND v.j = c.j
            GROUP BY 1, 2),
      m$k AS MATERIALIZED (
            SELECT label, greatest(length(bin(max(abs(raw)))) - 32, 0) AS sv
              FROM r$k GROUP BY 1),
      v$k AS MATERIALIZED (
            SELECT r.label, r.i AS j, r.raw >> m.sv AS vj
              FROM r$k r JOIN m$k m USING (label))"""
    }.mkString(",\n")
    s"""
      WITH ie AS (SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ie
           FROM embeddings),
      px AS MATERIALIZED (
            SELECT vec_id, label, CAST(i AS BIGINT) AS i, ie[i + 1] AS v
            FROM ie, unnest(generate_series(0, ${dims - 1})) AS t(i)),
      cells AS MATERIALIZED (
            SELECT a.label, a.i, b.i AS j,
                  CAST(sum(a.v * b.v) AS BIGINT) AS g
                FROM px a JOIN px b ON a.vec_id = b.vec_id
                GROUP BY 1, 2, 3),
      sg AS (SELECT label, greatest(length(bin(max(abs(g)))) - 24, 0) AS sg
             FROM cells GROUP BY 1),
      c2 AS MATERIALIZED (
            SELECT c.label, c.i, c.j, c.g >> s.sg AS g2
             FROM cells c JOIN sg s USING (label)),
      v0 AS (SELECT label,
               CAST(unnest(generate_series(0, ${dims - 1})) AS BIGINT) AS j,
               CAST(1 AS BIGINT) AS vj
             FROM (SELECT DISTINCT label FROM cells)),
      $rounds,
      w AS (SELECT c.label, c.i AS j, CAST(sum(c.g2 * v.vj) AS BIGINT) AS wj
            FROM c2 c JOIN v$iters v ON v.label = c.label AND v.j = c.j
            GROUP BY 1, 2),
      ray AS (SELECT v.label,
                sum(CAST(v.vj AS HUGEINT) * w.wj) AS num,
                sum(CAST(v.vj AS HUGEINT) * v.vj) AS den
              FROM v$iters v JOIN w ON w.label = v.label AND w.j = v.j
              GROUP BY 1),
      tr AS (SELECT label, CAST(sum(g) AS BIGINT) AS trace FROM cells
             WHERE i = j GROUP BY 1),
      ns AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
      SELECT r.label, ns.n_vecs, tr.trace,
             (CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE)) *
               CAST(CAST(1 AS BIGINT) << s.sg AS DOUBLE) AS eig1,
             ((CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE)) *
               CAST(CAST(1 AS BIGINT) << s.sg AS DOUBLE)) /
               CAST(tr.trace AS DOUBLE) AS expl_ratio
      FROM ray r JOIN sg s USING (label) JOIN tr USING (label)
           JOIN ns USING (label)
      ORDER BY r.label"""
  }
}
