package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH bucketing as the scale path (generalizing the
  * reference's eps-distance neighbor search, process_af3_outputs.py
  * :226-251, to high dimensions).
  *
  * Determinism notes:
  * - dot products sum left to right in one row
  *   ([[graft.functions.VectorExpressions.dot]]), so the result is
  *   bit-identical across engines — never a shuffled `sum` of exploded
  *   products;
  * - the LSH path works on `floor(x*1000)` integers: order-free exact
  *   arithmetic, so bucket assignment is engine-independent.
  */
object Similarity {

  /** Native codegen'd dot product — the hot-loop form. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Symmetric int8 quantization of an embedding column — the storage
    * compression pass before ANN serving (4x smaller, dot products in
    * integer SIMD). Per-vector scale = max |x_i|;
    * `q_i = max(-127, floor(x_i * 127 / scale))`. Deterministic across
    * engines: float32 -> double is exact, the multiply/divide are single
    * IEEE-754 ops every engine rounds identically, and floor is exact —
    * no round-half ambiguity anywhere. All-zero vectors quantize to
    * zeros (scale 0 guard). Pure projection: no shuffle, no UDF —
    * `transform`/`array_max` stay inside codegen.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), v => abs(v.cast("double"))))
    emb.select(col(idCol), col(vecCol).as("__v"), scale.as("scale"))
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0,
          transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"), v =>
            greatest(lit(-127.0),
              floor(v.cast("double") * 127.0 / col("scale"))).cast("int")))
          .as("q"))
  }

  /** Brute-force cosine top-k: each query vector against the full corpus.
    * O(|Q| * N) — the baseline; keep |Q| bounded or use [[lshBuckets]].
    * The per-query ranking is one window over the join result,
    * partitioned by query id (shuffle on query id only).
    */
  def cosineTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    // precompute per-vector norms once (not per pair: N+Q sqrts, not N*Q)
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(embCol)).as("q_emb"))
      .withColumn("q_norm", norm(col("q_emb")))
    val c = corpus.select(col(idCol).as("c_id"), asDouble(col(embCol)).as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb")))
    val scored = q.crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Brute-force cosine top-k with the query side bounded BY
    * CONSTRUCTION: the query set is the `nQueries` corpus vectors with
    * the smallest (hash_bucket(id), id) — a deterministic hash
    * reservoir (one TakeOrderedAndProject, distribution-free, same set
    * at any N on any cluster), not an id-range filter that silently
    * grows or empties with the corpus. The reservoir broadcasts past
    * ONE corpus scan — O(nQueries·N) arithmetic. The plan is a
    * BroadcastNestedLoopJoin whose broadcast side is PROVABLY bounded
    * (the limit sits in its subtree), which PlanShapeSpec verifies
    * STRUCTURALLY — no name-based exception. [[cosineTopK]] remains the
    * unbounded spec-only form.
    */
  def cosineTopKSampled(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      nQueries: Int,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("c_id"), asDouble(col(embCol)).as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb")))
    val q = corpus
      .select(col(idCol).as("q_id"), asDouble(col(embCol)).as("q_emb"),
        graft.operators.Sampling.hashBucket(col(idCol), 1000000000).as("__b"))
      .orderBy(col("__b"), col("q_id")).limit(nQueries)
      .withColumn("q_norm", norm(col("q_emb")))
      .drop("__b")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Integer-exact hyperplane weights: w(k, d) = ((k*37 + d*17) mod 7) - 3
    * for plane k, dimension d (0-based). Deterministic, reproducible in
    * SQL via the same formula.
    */
  def planeWeights(numPlanes: Int, dims: Int): Seq[Seq[Long]] =
    (0 until numPlanes).map(k => (0 until dims).map(d => ((k * 37 + d * 17) % 7 - 3).toLong))

  /** Integer embedding: floor(x * 1000) per dimension (exact in both
    * engines; DOUBLE->INT casts round differently, floor does not).
    */
  def intEmbedding(embCol: Column): Column =
    transform(embCol, x => floor(x.cast("double") * 1000).cast("long"))

  /** Johnson–Lindenstrauss-style random projection of the integer
    * embedding onto `outDims` fixed pseudo-random integer hyperplanes —
    * the dimensionality-reduction pass before cheap distance serving
    * (store 16 int64s instead of 64 floats; inner products on the
    * projected vectors approximate scaled originals). Weights come from
    * the same `(k*37 + d*17) % 7 - 3` family as [[planeWeights]]
    * (mean 0, bounded), so every output coordinate is an EXACT int64
    * dot the DuckDB oracle reproduces bit-for-bit. Pure projection —
    * no shuffle; each coordinate is a codegen'd integer dot, and
    * linearity (P(x+y) = Px + Py) holds exactly in integer arithmetic.
    */
  def randomProjection(
      emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dims: Int): DataFrame =
    emb.select(col(idCol), intEmbedding(col(vecCol)).as("__ie"))
      .select(col(idCol),
        array(planeWeights(outDims, dims).map(w =>
          graft.functions.VectorExpressions.dotLong(col("__ie"), typedLit(w))): _*)
          .as("proj"))

  /** Random-hyperplane LSH bucket id: bit k = [intdot(emb, plane_k) >= 0].
    * Bucketing is a narrow map — no shuffle; the subsequent candidate
    * join shuffles on the bucket id only.
    */
  def lshBucket(embCol: Column, numPlanes: Int, dims: Int): Column = {
    val ie = intEmbedding(embCol)
    planeWeights(numPlanes, dims).zipWithIndex.map { case (w, k) =>
      val d = graft.functions.VectorExpressions.dotLong(ie, typedLit(w))
      when(d >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic fixed-iteration k-means codebook over the integer
    * embedding. Seed = the `numCells` lowest-id vectors; each iteration
    * (1) assigns every vector to its nearest centroid (integer d2, ties
    * by cid) and (2) recomputes each centroid as the per-dimension
    * `floor(mean)` of its members — floor-of-double-division on sums
    * < 2^52, so the arithmetic is bit-reproducible in SQL. Empty cells
    * keep their previous centroid. `iters = 0` degenerates to the
    * training-free lowest-id codebook.
    *
    * Scale shape: centroids are a broadcast dimension each round;
    * assignment is map-side; the mean is one (cell, dim) groupBy — the
    * classic Spark k-means sans MLlib, with every step a DataFrame op.
    * Returns (cid, ce).
    */
  def kmeansCodebook(v: DataFrame, numCells: Int, iters: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    var cents = v.orderBy(col("v_id")).limit(numCells)
      .select(col("v_id").as("cid"), col("ie").as("ce"))
    for (_ <- 1 to iters) {
      val assigned = v
        .join(broadcast(cents.withColumn("cc", dotL(col("ce"), col("ce")))))
        .withColumn("d2", col("aa") - lit(2L) * dotL(col("ie"), col("ce")) + col("cc"))
        .groupBy(col("v_id"))
        .agg(first(col("ie")).as("ie"),
          min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))
      val perDim = assigned
        .select(col("cell"), posexplode(col("ie")).as(Seq("d", "v")))
        .groupBy(col("cell"), col("d"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("mu"))
      val means = perDim.groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("mu")))),
          _.getField("mu")).as("me"))
      cents = cents
        .join(means.withColumnRenamed("cell", "cid"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("me"), col("ce")).as("ce"))
    }
    cents
  }

  /** Default k-means refinement depth for the IVF codebook. */
  val IvfKmeansIters: Int = 2

  /** (v_id, ie, aa, cid, d2) for every vector x centroid pair — the one
    * frame both the argmin assignment and the probe ranking derive from.
    * The codebook is the deterministic k-means of [[kmeansCodebook]].
    */
  def ivfDists(
      vectors: DataFrame,
      idCol: String,
      embCol: String,
      numCells: Int,
      kmeansIters: Int = IvfKmeansIters): DataFrame = {
    val v = vectors.select(col(idCol).as("v_id"), intEmbedding(col(embCol)).as("ie"))
      .withColumn("aa", graft.functions.VectorExpressions.dotLong(col("ie"), col("ie")))
    val cents = kmeansCodebook(v, numCells, kmeansIters)
      .withColumn("cc", graft.functions.VectorExpressions.dotLong(col("ce"), col("ce")))
    v.join(broadcast(cents))
      .withColumn("d2",
        col("aa") - lit(2L) * graft.functions.VectorExpressions.dotLong(col("ie"), col("ce"))
          + col("cc"))
      .drop("ce", "cc")
  }

  private def ivfArgmin(dists: DataFrame): DataFrame =
    dists.groupBy(col("v_id"))
      .agg(
        first(col("ie")).as("ie"),
        first(col("aa")).as("aa"),
        min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))

  def ivfAssign(
      vectors: DataFrame,
      idCol: String,
      embCol: String,
      numCells: Int): DataFrame =
    ivfArgmin(ivfDists(vectors, idCol, embCol, numCells))

  /** Assignment against a FROZEN codebook — the incremental-index
    * append: a new batch lands in the nearest existing cell without
    * retraining (centroid drift is deferred to the next scheduled
    * rebuild, the standard production trade). `v` carries the
    * [[kmeansCodebook]] input grain (v_id, ie, aa); `cents` is a
    * trained (cid, ce) codebook, broadcast — assignment is one
    * map-side pass + a per-vector argmin, never a shuffle of the
    * batch against the corpus.
    */
  def ivfAssignFrozen(v: DataFrame, cents: DataFrame): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    v.join(broadcast(cents.withColumn("cc", dotL(col("ce"), col("ce")))))
      .withColumn("d2", col("aa") - lit(2L) * dotL(col("ie"), col("ce")) + col("cc"))
      .groupBy(col("v_id"))
      .agg(first(col("ie")).as("ie"), first(col("aa")).as("aa"),
        min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))
  }

  /** [[ivfAssign]] over a prebuilt [[ivfDists]] frame. */
  def ivfAssignFrom(dists: DataFrame): DataFrame = ivfArgmin(dists)

  /** IVF ANN top-k: queries probe their `nprobe` nearest cells and
    * exact-rank only the vectors assigned there — the inverted-file
    * analogue of [[annTopK]]'s hash buckets. Per-query candidate count
    * is bounded by the probed cells' population (~ nprobe * N /
    * numCells), never N.
    *
    * The final ranking is by exact COSINE over the integer embeddings —
    * `idot / (sqrt(q·q) * sqrt(c·c))` — not by raw dot: raw-dot order
    * diverges from the true neighbor order whenever corpus norms vary,
    * which costs recall that no amount of probing recovers. Every step
    * (integer dot, sqrt, divide) is a single correctly-rounded IEEE op,
    * so the oracle reproduces the ranking bit-for-bit. This is the
    * re-rank half of the probe-wider/exact-rank recall recipe; nprobe
    * is the other half (see AnnRecallSpec's sweep).
    */
  def ivfTopK(
      vectors: DataFrame,
      idCol: String,
      embCol: String,
      numCells: Int,
      nprobe: Int,
      k: Int): DataFrame = {
    // one distance frame feeds both the assignment argmin and the probe
    // ranking (a self-join of derived frames — Spark evaluates each join
    // child separately, so without persistence the scan + N*numCells dot
    // products would run twice). MEMORY_AND_DISK: spill beats recompute.
    // The entry stays resident until LRU eviction; callers running many
    // sweeps can clear it via spark.catalog.clearCache().
    val dists = ivfDists(vectors, idCol, embCol, numCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ivfTopKFrom(dists, nprobe, k)
  }

  /** The deterministic `nQueries`-vector query panel over an
    * [[ivfDists]] frame: the vectors with the smallest
    * (hash_bucket(id), id) — the same distribution-free hash reservoir
    * as [[cosineTopKSampled]]'s query side, so it is the SAME panel at
    * any corpus size on any cluster. Restricting a pinned-cells index
    * to a fixed panel is what keeps its serving cost linear: a
    * constant-cells index costs ~nprobe·N/numCells per probe, so
    * all-N-queries probing is quadratic in N, while a fixed panel pays
    * panel·nprobe·N/numCells — one bounded multiple of a corpus scan.
    */
  private def queryPanel(dists: DataFrame, nQueries: Int): DataFrame =
    dists.select(col("v_id")).distinct()
      .withColumn("__b", graft.operators.Sampling.hashBucket(col("v_id"), 1000000000))
      .orderBy(col("__b"), col("v_id")).limit(nQueries)
      .select(col("v_id"))

  /** Restrict the probe (query) side of an IVF serving path to the
    * deterministic panel; the index side stays the full corpus.
    */
  private def restrictToPanel(dists: DataFrame, nQueries: Option[Int]): DataFrame =
    nQueries match {
      case Some(q) => dists.join(broadcast(queryPanel(dists, q)), Seq("v_id"))
      case None => dists
    }

  /** [[ivfTopK]] over a prebuilt (already persisted) [[ivfDists]] frame —
    * the setup/query split: the distance frame IS the IVF index, built
    * once per corpus and probed by every retrieval query. `nQueries`
    * bounds the query side to the deterministic hash-reservoir panel
    * (the scale-safe way to serve a PINNED-cells index — see
    * [[queryPanel]]); None keeps every corpus vector as a query, which
    * is only linear when numCells tracks the corpus (√N law).
    */
  def ivfTopKFrom(dists: DataFrame, nprobe: Int, k: Int,
      nQueries: Option[Int] = None): DataFrame =
    ivfCandidatesFrom(dists, nprobe, nQueries)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))

  /** The IVF probe's scored candidate frame `(q_id, c_id, cos)` BEFORE
    * top-k ranking — the reusable middle of the serving path, for
    * consumers that filter candidates by a predicate top-k can't see
    * (hard-negative mining filters by label BEFORE ranking; plain
    * retrieval ranks directly).
    */
  def ivfCandidatesFrom(dists: DataFrame, nprobe: Int,
      nQueries: Option[Int] = None): DataFrame = {
    val assign = ivfArgmin(dists)
    val probes = restrictToPanel(dists, nQueries)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("v_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("pr") <= nprobe)
      .select(col("v_id").as("q_id"), col("ie").as("q_ie"),
        col("aa").as("q_aa"), col("cid").as("cell"))
    probes
      .join(assign.select(col("v_id").as("c_id"), col("ie").as("c_ie"),
          col("aa").as("c_aa"), col("cell")),
        Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExpressions.dotLong(col("q_ie"), col("c_ie")).as("idot"),
        col("q_aa"), col("c_aa"))
      .withColumn("cos",
        when(col("q_aa") === 0L || col("c_aa") === 0L, lit(0.0))
          .otherwise(col("idot") /
            (sqrt(col("q_aa").cast("double")) * sqrt(col("c_aa").cast("double")))))
      .select(col("q_id"), col("c_id"), col("cos"))
  }

  /** Matryoshka-style two-stage serving funnel over the IVF index:
    * probe `nprobe` cells, COARSE-score the probed candidates with an
    * integer dot over only the first `prefixDims` dimensions (the
    * prefix of an MRL-trained embedding carries most of the signal at
    * `prefixDims/dims` of the arithmetic), keep a per-query shortlist,
    * and exact-rank only the shortlist by full-dimension cosine. The
    * shape a billion-vector serving tier actually runs: every join is
    * the same bounded cell equi-join as [[ivfTopKFrom]], and the
    * expensive full-width scoring touches `shortlist` rows per query
    * instead of the whole probed population. All arithmetic is the
    * integer-exact kind the oracles reproduce bit-for-bit.
    */
  def ivfPrefixRerankTopK(
      dists: DataFrame,
      nprobe: Int,
      prefixDims: Int,
      shortlist: Int,
      k: Int,
      nQueries: Option[Int] = None): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val assign = ivfArgmin(dists)
    // Shape discipline learned at sf1 (first cut: 433 s, 300× sf0.1):
    // 1. The coarse stage is SKINNY — candidate rows carry (ids, cell,
    //    prefix arrays) only; full vectors rejoin AFTER the shortlist
    //    cut. Carrying both 64-dim vectors per candidate multiplied
    //    the heavy stage's bytes ~40×.
    // 2. Prefix arrays are sliced once per VECTOR in these
    //    projections, never in the join output (which allocates per
    //    candidate pair).
    // 3. Both join inputs are EXPLICITLY repartitioned on the cell key:
    //    the inputs are tiny, so AQE coalesces their shuffles to ~one
    //    partition — and then the join's explosive output (nprobe·N²/
    //    cells rows) lands in that one partition, where the rank
    //    filter's pre-shuffle WindowGroupLimit sort runs as a single
    //    spilling task. Explicit repartition pins the fan-out across
    //    the cluster.
    val parts = dists.sparkSession.sessionState.conf.numShufflePartitions
    val probes = restrictToPanel(dists, nQueries)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("v_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("pr") <= nprobe)
      .select(col("v_id").as("q_id"),
        slice(col("ie"), 1, prefixDims).as("q_pre"), col("cid").as("cell"))
      .repartition(parts, col("cell"))
    val cands = assign
      .select(col("v_id").as("c_id"),
        slice(col("ie"), 1, prefixDims).as("c_pre"), col("cell"))
      .repartition(parts, col("cell"))
    val coarse = probes.join(cands, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExpressions.dotLong(
          col("q_pre"), col("c_pre")).as("pdot"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("pdot").desc, col("c_id"))))
      .filter(col("crank") <= shortlist)
    // full-width vectors touch only the shortlist (shortlist·Q rows)
    val vecs = assign.select(col("v_id"), col("ie"), col("aa"))
    coarse
      .join(vecs.select(col("v_id").as("q_id"), col("ie").as("q_ie"),
        col("aa").as("q_aa")), Seq("q_id"))
      .join(vecs.select(col("v_id").as("c_id"), col("ie").as("c_ie"),
        col("aa").as("c_aa")), Seq("c_id"))
      .withColumn("idot", graft.functions.VectorExpressions.dotLong(
        col("q_ie"), col("c_ie")))
      .withColumn("cos",
        when(col("q_aa") === 0L || col("c_aa") === 0L, lit(0.0))
          .otherwise(col("idot") /
            (sqrt(col("q_aa").cast("double")) * sqrt(col("c_aa").cast("double")))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Blocked near-duplicate pairs by cosine: candidate pairs come from
    * LSH buckets (own bucket + every Hamming-1 probe, so any pair whose
    * bucket ids differ in at most one plane bit is compared), and the
    * exact cosine is verified only within those blocks. The join is an
    * equi-join on the bucket id — never an all-pairs inequality join:
    * at 100 TB the pair space is bounded by bucket populations
    * (~N/2^planes per bucket), and adding planes shrinks it
    * geometrically. Recall loss is confined to pairs >= 2 plane flips
    * apart — the standard LSH trade, tunable via `numPlanes`.
    */
  def cosinePairsBlocked(
      vectors: DataFrame,
      idCol: String,
      embCol: String,
      numPlanes: Int,
      dims: Int,
      minCos: Double): DataFrame = {
    val base = vectors.select(col(idCol).as("v_id"),
        asDouble(col(embCol)).as("emb"),
        lshBucket(col(embCol), numPlanes, dims).as("bucket"))
      .withColumn("nrm", norm(col("emb")))
    val masks: Seq[Long] = 0L +: (0 until numPlanes).map(1L << _).toSeq
    val probed = base.withColumn("probe", explode(typedLit(masks)))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("probe")))
      .drop("probe")
    // a pair surfaces at most twice (once per direction: exactly one
    // probe mask matches a given bucket pair), so verify-then-distinct
    // is cheap — the minCos filter runs first to shrink the distinct's
    // shuffle to the surviving pairs
    probed.as("x").join(base.as("y"), Seq("bucket"))
      .filter(col("x.v_id") < col("y.v_id"))
      .select(col("x.v_id").as("a"), col("y.v_id").as("b"),
        (dot(col("x.emb"), col("y.emb")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
      .distinct()
  }

  /** Bucketed ANN top-k: candidates from the query's own LSH bucket plus
    * (with `multiProbe`) every bucket at Hamming distance 1 — the
    * standard multi-probe trick that recovers neighbors lost to a single
    * hyperplane flip. Candidates rank by exact integer dot product.
    * The scale path: per-bucket work is |bucket|^2 with buckets ~
    * N/2^planes; add planes to shrink buckets, probes to regain recall.
    */
  def annTopK(
      vectors: DataFrame,
      idCol: String,
      embCol: String,
      numPlanes: Int,
      dims: Int,
      k: Int,
      multiProbe: Boolean = false): DataFrame = {
    val v = vectors.select(col(idCol).as("v_id"),
      intEmbedding(col(embCol)).as("ie"),
      lshBucket(col(embCol), numPlanes, dims).as("bucket"))
    val masks: Seq[Long] =
      if (multiProbe) 0L +: (0 until numPlanes).map(1L << _).toSeq else Seq(0L)
    val q = v.withColumn("probe", explode(typedLit(masks)))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("probe")))
      .drop("probe")
    val pairs = q.as("q").join(v.as("c"), Seq("bucket"))
      .filter(col("q.v_id") =!= col("c.v_id"))
      .select(col("q.v_id").as("q_id"), col("c.v_id").as("c_id"),
        graft.functions.VectorExpressions.dotLong(col("q.ie"), col("c.ie")).as("idot"))
      .distinct() // a candidate can surface via several probes
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("idot").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("idot"), col("rank"))
  }

  /** Embedding-quality audit: the `k` vectors per label FARTHEST (lowest
    * cosine) from their own label's centroid — the standard
    * mislabeled/outlier sweep a training-data pipeline runs before
    * using labels for mixing or eval splits.
    *
    * Determinism: the centroid is the per-dimension floor(mean) of the
    * INTEGER embedding ([[intEmbedding]]) — integer sums are
    * order-independent where float sums are not (the same trick as
    * [[kmeansCodebook]]); the cosine then uses only single
    * correctly-rounded IEEE ops per row. Ties break by ascending
    * vec_id.
    *
    * Scale shape: one (label, dim) groupBy for the centroids (map-side
    * combined), centroids broadcast back (one row per label), ranking a
    * per-label window — no all-pairs anything.
    */
  def labelOutliers(
      embs: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    val v = embs.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        intEmbedding(col(embCol)).as("ie"))
      .withColumn("aa", dotL(col("ie"), col("ie")))
    val perDim = v
      .select(col("label"), posexplode(col("ie")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("mu"))
    val cents = perDim.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("mu")))),
        _.getField("mu")).as("ce"))
      .withColumn("cc", dotL(col("ce"), col("ce")))
    v.join(broadcast(cents), Seq("label"))
      .withColumn("idot", dotL(col("ie"), col("ce")))
      .withColumn("cos",
        when(col("aa") === 0 || col("cc") === 0, lit(0.0))
          .otherwise(col("idot") /
            (sqrt(col("aa").cast("double")) * sqrt(col("cc").cast("double")))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("cos").asc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("label"), col("vec_id"), col("cos"), col("rank"))
  }

  // ---- product quantization (PQ) ----------------------------------------
  //
  // The standard embedding-compression layout for billion-vector ANN:
  // split each vector into `numBlocks` contiguous subvectors, k-means
  // each subspace independently, store one small code per block — a
  // 64-dim float vector becomes numBlocks bytes plus a shared codebook.
  // Same deterministic integer k-means recipe as the IVF codebook
  // (seeded by the lowest-id vectors, floor-of-mean refinement), run
  // per block.

  /** (v_id, block, sv, ss) — the per-block subvector frame. A narrow
    * explode of the integer embedding: no shuffle.
    */
  def pqSubvectors(
      vectors: DataFrame, idCol: String, embCol: String,
      numBlocks: Int, dims: Int): DataFrame = {
    val sub = dims / numBlocks
    val dotL = graft.functions.VectorExpressions.dotLong _
    vectors.select(col(idCol).as("v_id"), intEmbedding(col(embCol)).as("ie"))
      .select(col("v_id"), explode(transform(
        sequence(lit(0), lit(numBlocks - 1)),
        b => struct(b.cast("long").as("block"),
          slice(col("ie"), b * lit(sub) + lit(1), lit(sub)).as("sv")))).as("x"))
      .select(col("v_id"), col("x.block").as("block"), col("x.sv").as("sv"))
      .withColumn("ss", dotL(col("sv"), col("sv")))
  }

  /** Per-block deterministic k-means codebook `(block, cid, ce)`: seeds
    * are the `k` lowest-id vectors' subvectors (every vector contributes
    * one subvector to every block, so the seed set is the same tiny
    * TakeOrdered frame for all blocks — no per-block window over the
    * corpus); each iteration reassigns by integer d2 (ties by cid) and
    * takes the per-dimension floor(mean), empty cells keeping their
    * centroid. The codebook (numBlocks x k rows) is broadcast every
    * round.
    */
  def pqCodebook(sv: DataFrame, k: Int, iters: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    val seeds = sv.select(col("v_id")).distinct().orderBy(col("v_id")).limit(k)
    var cents = sv
      .join(broadcast(seeds), Seq("v_id"))
      .select(col("block"), col("v_id").as("cid"), col("sv").as("ce"))
    for (_ <- 1 to iters) {
      val assigned = sv
        .join(broadcast(cents.withColumn("cc", dotL(col("ce"), col("ce")))),
          Seq("block"))
        .withColumn("d2",
          col("ss") - lit(2L) * dotL(col("sv"), col("ce")) + col("cc"))
        .groupBy(col("v_id"), col("block"))
        .agg(first(col("sv")).as("sv"),
          min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))
      val perDim = assigned
        .select(col("block"), col("cell"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("block"), col("cell"), col("d"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("mu"))
      val means = perDim.groupBy(col("block"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("mu")))),
          _.getField("mu")).as("me"))
      cents = cents
        .join(means.withColumnRenamed("cell", "cid"), Seq("block", "cid"), "left")
        .select(col("block"), col("cid"), coalesce(col("me"), col("ce")).as("ce"))
    }
    cents
  }

  /** PQ encode: `(v_id, block, code, q_err)` — per block, the nearest
    * codebook centroid (integer d2, ties by cid) and the residual d2 as
    * a self-auditing quantization-error column. One broadcast join +
    * one keyed argmin; the corpus never self-joins.
    */
  def pqAssign(
      vectors: DataFrame, idCol: String, embCol: String,
      numBlocks: Int, dims: Int, k: Int, iters: Int): DataFrame = {
    val sv = pqSubvectors(vectors, idCol, embCol, numBlocks, dims)
    pqAssignFrom(sv, pqCodebook(sv, k, iters))
  }

  /** [[pqAssign]] over prebuilt subvector + codebook frames. */
  def pqAssignFrom(sv: DataFrame, codebook: DataFrame): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    val cents = codebook.withColumn("cc", dotL(col("ce"), col("ce")))
    sv.join(broadcast(cents), Seq("block"))
      .withColumn("d2",
        col("ss") - lit(2L) * dotL(col("sv"), col("ce")) + col("cc"))
      .groupBy(col("v_id"), col("block"))
      .agg(min_by(struct(col("cid"), col("d2")),
        struct(col("d2"), col("cid"))).as("m"))
      .select(col("v_id"), col("block"),
        col("m.cid").as("code"), col("m.d2").as("q_err"))
  }

  /** PQ ADC top-k (asymmetric distance computation): full-precision
    * query subvectors score every corpus vector THROUGH ITS CODES — the
    * per-query work is a distance TABLE to the numBlocks x k codebook
    * (tiny, broadcast with the codebook), then an equi-join on
    * (block, code) and a per-(query, candidate) sum. O(N x numBlocks)
    * per query with no access to corpus vectors at all — the serving
    * shape that lets the fleet hold codes (bytes/vector) instead of
    * floats.
    */
  def pqAdcTopK(
      sv: DataFrame, codebook: DataFrame, codes: DataFrame,
      queryPred: Column, topK: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    val cents = codebook.withColumn("cc", dotL(col("ce"), col("ce")))
    val dtab = sv.filter(queryPred)
      .join(broadcast(cents), Seq("block"))
      .select(col("v_id").as("q_id"), col("block"), col("cid"),
        (col("ss") - lit(2L) * dotL(col("sv"), col("ce")) + col("cc")).as("qd2"))
    codes.join(broadcast(dtab),
        codes("block") === dtab("block") && codes("code") === dtab("cid") &&
          codes("v_id") =!= dtab("q_id"))
      .groupBy(col("q_id"), codes("v_id").as("c_id"))
      .agg(sum(col("qd2")).as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("approx_d2").asc, col("c_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"), col("approx_d2"), col("rank"))
  }

  /** IVF + PQ — the production billion-vector serving architecture:
    * queries probe their `nprobe` nearest IVF cells (coarse index) and
    * ADC-score ONLY the vectors assigned there, through their PQ codes
    * (fine index). Per-query cost is (probed-cell population) x
    * numBlocks code lookups: both the candidate set and the bytes per
    * candidate are bounded, which is what lets a fleet serve from RAM.
    * Composes the two shared session artifacts (the IVF distance frame
    * and the PQ codebook/codes) without touching corpus vectors at
    * query time.
    */
  def ivfPqTopK(
      dists: DataFrame, sv: DataFrame, codebook: DataFrame, codes: DataFrame,
      nprobe: Int, queryPred: Column, topK: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dotLong _
    val assign = ivfAssignFrom(dists).select(col("v_id").as("c_id"), col("cell"))
    val probes = dists.filter(queryPred)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("v_id")).orderBy(col("d2").asc, col("cid"))))
      .filter(col("pr") <= nprobe)
      .select(col("v_id").as("q_id"), col("cid").as("cell"))
    val cand = probes.join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
    val cents = codebook.withColumn("cc", dotL(col("ce"), col("ce")))
    val dtab = sv.filter(queryPred)
      .join(broadcast(cents), Seq("block"))
      .select(col("v_id").as("q_id"), col("block"), col("cid"),
        (col("ss") - lit(2L) * dotL(col("sv"), col("ce")) + col("cc")).as("qd2"))
    cand.join(codes, cand("c_id") === codes("v_id"))
      .join(broadcast(dtab),
        dtab("q_id") === cand("q_id") && dtab("block") === codes("block") &&
          dtab("cid") === codes("code"))
      .groupBy(cand("q_id"), col("c_id"))
      .agg(sum(col("qd2")).as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("approx_d2").asc, col("c_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"), col("approx_d2"), col("rank"))
  }

  /** Exact integer Gram cells of the per-label second-moment matrix:
    * g(label, i, j) = Σ_vectors ie_i·ie_j over the floor(x*1000) integer
    * embedding — an order-free integer sum, so the matrix is
    * engine-exact. Shape: one narrow 4096-wide explode per vector, then
    * a map-side-combined groupBy that collapses to |labels|·dims² rows —
    * the only pass over the fact table the whole PCA makes.
    */
  def gramCells(vectors: DataFrame, embCol: String, labelCol: String,
      dims: Int): DataFrame = {
    val ie = intEmbedding(col(embCol))
    vectors
      .select(col(labelCol).as("label"), ie.as("ie"))
      .select(col("label"), posexplode(flatten(
        transform(col("ie"), a => transform(col("ie"), b => a * b))))
        .as(Seq("pos", "p")))
      .groupBy(col("label"), expr(s"pos div $dims").as("i"),
        (col("pos") % dims).cast("long").as("j"))
      .agg(sum(col("p")).as("g"))
  }

  /** Leading eigenvalue of each label's Gram matrix by POWER ITERATION
    * EXPRESSED RELATIONALLY — every iterate stays an exact integer, so
    * the result is engine-deterministic without any float summation:
    *
    *  - the Gram is pre-scaled per label to |g2| < 2^24 by an arithmetic
    *    right shift (floor semantics in BOTH engines, unlike `div`'s
    *    truncation, so negatives agree);
    *  - each round is matvec-as-join: cells ⋈ v on (label, j), then an
    *    order-free integer SUM per (label, i) — bounded by
    *    64·2^24·2^32 < 2^63, no overflow;
    *  - the iterate is renormalized by shifting back under 2^32, with
    *    the shift count derived from the binary-string length (exact
    *    floor-log2, no libm);
    *  - after `iters` rounds the Rayleigh quotient closes in
    *    decimal(38,0) exact dot products with ONE double division, and
    *    the per-label Gram shift is undone by an exact power-of-two
    *    multiply.
    *
    * Scale: the fact table is touched once (gramCells); all iteration
    * frames are |labels|·dims rows joined against |labels|·dims² cells —
    * broadcast-sized at any corpus size. Returns (label, n_vecs, trace,
    * eig1, expl_ratio); eig1/trace is the variance share of the top
    * component (uncentered PCA — the ANN-relevant spectrum).
    */
  def gramPowerTopEig(vectors: DataFrame, embCol: String, labelCol: String,
      dims: Int, iters: Int, cellsOpt: Option[DataFrame] = None): DataFrame = {
    // the Gram frame is referenced ~iters+2 times in the lazy plan —
    // callers should pass a persisted copy (Artifacts.memo) so the
    // single fact-table pass isn't replayed per reference
    val cells = cellsOpt.getOrElse(gramCells(vectors, embCol, labelCol, dims))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    def bitlen(c: Column): Column = length(bin(c)).cast("int")
    def shr(c: Column, n: Column): Column =
      call_function("shiftright", c, n.cast("int"))
    val sg = cells.groupBy(col("label"))
      .agg(max(abs(col("g"))).as("mg"))
      .select(col("label"), greatest(bitlen(col("mg")) - 24, lit(0)).as("sg"))
    // the scaled Gram is referenced in every round plus the closing
    // matvec: checkpoint it once so those references are plan leaves,
    // not iters+1 replays of the fact-table pass. The frame is
    // |labels|·dims² rows with a BOUNDED label domain (class labels) —
    // a handful of partitions is the right layout; spreading ~40k rows
    // over 32 shuffle partitions just buys 32 near-empty tasks per
    // matvec round (for an unbounded grouping key, partition by label
    // instead).
    val scaled = cells.join(broadcast(sg), "label")
      .select(col("label"), col("i"), col("j"), col("g"),
        shr(col("g"), col("sg")).as("g2"))
      .coalesce(4)
      .localCheckpoint(true)
    def matvec(v: DataFrame): DataFrame =
      scaled.join(broadcast(v), Seq("label", "j"))
        .groupBy(col("label"), col("i"))
        .agg(sum(col("g2") * col("vj")).as("raw"))
    def renorm(raw: DataFrame): DataFrame = {
      val mv = raw.groupBy(col("label")).agg(max(abs(col("raw"))).as("mv"))
        .select(col("label"), greatest(bitlen(col("mv")) - 32, lit(0)).as("sv"))
      raw.join(broadcast(mv), "label")
        .select(col("label"), col("i").as("j"), shr(col("raw"), col("sv")).as("vj"))
    }
    val v0 = cells.select(col("label")).distinct()
      .select(col("label"), explode(sequence(lit(0L), lit(dims - 1L))).as("j"),
        lit(1L).as("vj"))
    // lineage MUST be cut every round: renorm references its input
    // twice, so an uncut loop doubles the logical plan per round —
    // 2^iters plan replication (the exact failure
    // Dedup.connectedComponents guards against; see SCALE.md "OOM in
    // the explain string"). localCheckpoint(true) is eager, so each
    // round is one tiny job over a |labels|·dims-row frame.
    // iterate frames are |labels|·dims rows — broadcast-sized at ANY
    // corpus scale (the fact table was already collapsed by gramCells),
    // so each round runs as ONE task instead of shuffle.partitions
    // near-empty ones
    var v = v0.coalesce(1).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val next = renorm(matvec(v)).coalesce(1).localCheckpoint(true)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(v)
      v = next
    }
    val w = matvec(v).withColumnRenamed("i", "j").withColumnRenamed("raw", "wj")
    val ray = v.join(w, Seq("label", "j"))
      .groupBy(col("label"))
      .agg(sum(d(col("vj")) * d(col("wj"))).as("num"),
        sum(d(col("vj")) * d(col("vj"))).as("den"))
    val tr = cells.filter(col("i") === col("j"))
      .groupBy(col("label")).agg(sum(col("g")).as("trace"))
    val ns = vectors.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    ray.join(broadcast(sg), "label").join(broadcast(tr), "label")
      .join(broadcast(ns), "label")
      .select(col("label"), col("n_vecs"), col("trace"),
        ((dbl(col("num")) / dbl(col("den"))) *
          dbl(call_function("shiftleft", lit(1L), col("sg").cast("int"))))
          .as("eig1"))
      .withColumn("expl_ratio", col("eig1") / dbl(col("trace")))
      .orderBy(col("label"))
  }
}
