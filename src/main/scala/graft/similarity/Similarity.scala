package graft.similarity

import java.math.BigInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
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

  private val dotL = graft.functions.VectorExpressions.dotLong _

  def norm(a: Column): Column = sqrt(dot(a, a))

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

  /** Brute-force cosine top-k with the query side bounded BY
    * CONSTRUCTION: the query set is the `nQueries` corpus vectors with
    * the smallest (hash_bucket(id), id) — a deterministic hash
    * reservoir (one TakeOrderedAndProject, distribution-free, same set
    * at any N on any cluster), not an id-range filter that silently
    * grows or empties with the corpus. The reservoir broadcasts past
    * ONE corpus scan — O(nQueries·N) arithmetic. The plan is a
    * BroadcastNestedLoopJoin whose broadcast side is PROVABLY bounded
    * (the limit sits in its subtree), which PlanShapeSpec verifies
    * STRUCTURALLY — no name-based exception. SimilaritySpec keeps the
    * unbounded form (every query against the corpus) as the exact
    * reference for the ANN recall specs.
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
        array(planeWeights(outDims, dims).map(w => dotL(col("__ie"), typedLit(w))): _*)
          .as("proj"))

  /** Random-hyperplane LSH bucket id: bit k = [intdot(emb, plane_k) >= 0].
    * Bucketing is a narrow map — no shuffle; the subsequent candidate
    * join shuffles on the bucket id only.
    */
  def lshBucket(embCol: Column, numPlanes: Int, dims: Int): Column = {
    val ie = intEmbedding(embCol)
    planeWeights(numPlanes, dims).zipWithIndex.map { case (w, k) =>
      val d = dotL(ie, typedLit(w))
      when(d >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  // ---- integer k-means: the IVF cells and the PQ sub-quantizers ----------
  //
  // The IVF coarse quantizer and the PQ sub-quantizers are one k-means
  // (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  // TPAMI 2011) over two grains: IVF clusters whole integer embeddings
  // into one codebook, PQ clusters each block's subvectors into one
  // codebook per block. Every IVF, PQ and label-centroid operator below
  // is built from one copy of each kernel: the d2 table
  // ([[d2Table]]), the nearest-centroid argmin ([[nearestCell]]), the
  // floor-mean centroid ([[floorMean]]) and the integer cosine
  // ([[intCosine]]).

  /** The grain of a vector frame: `v_id`, the optional `keys` (one
    * codebook per key value), the integer vector column `vec` and its
    * self-dot `self`.
    */
  final case class Grain(keys: Seq[String], vec: String, self: String)

  /** IVF: `(v_id, ie, aa)` ([[ivfVectors]]), one codebook. */
  val Ivf: Grain = Grain(Nil, "ie", "aa")

  /** PQ: `(v_id, block, sv, ss)` ([[pqSubvectors]]), one codebook per
    * block.
    */
  val Pq: Grain = Grain(Seq("block"), "sv", "ss")

  /** `(v_id, ie, aa)`: the integer embedding and its self-dot. */
  def ivfVectors(vectors: DataFrame, idCol: String, embCol: String): DataFrame =
    vectors.select(col(idCol).as("v_id"), intEmbedding(col(embCol)).as("ie"))
      .withColumn("aa", dotL(col("ie"), col("ie")))

  /** Every vector x centroid pair with equal keys and its integer
    * squared distance `d2 = self - 2·dot(vec, ce) + cc`: `v`'s columns
    * plus `(cid, ce, cc, d2)`. `cents` is a `(keys, cid, ce)` codebook,
    * broadcast with `cc = ce·ce` computed once per centroid. The
    * operand order is part of the result: under ANSI arithmetic it
    * decides which intermediate overflows.
    */
  private def d2Table(v: DataFrame, cents: DataFrame, g: Grain): DataFrame =
    v.join(broadcast(cents.withColumn("cc", dotL(col("ce"), col("ce")))), g.keys)
      .withColumn("d2", col(g.self) - lit(2L) * dotL(col(g.vec), col("ce")) + col("cc"))

  /** The nearest centroid of every `(v_id, keys)` group of a [[d2Table]]:
    * `(v_id, keys, carry, cell, d2)`, equal distances going to the lower
    * cid. The `carry` columns are per-vector values that ride along.
    * `cell` and `d2` are separate aggregates over one ordering, so a
    * caller that drops `d2` does not compute it.
    */
  def nearestCell(d: DataFrame, g: Grain, carry: String*): DataFrame = {
    val order = struct(col("d2"), col("cid"))
    val aggs = carry.map(c => first(col(c)).as(c)) :+
      min_by(col("cid"), order).as("cell") :+ min_by(col("d2"), order).as("d2")
    d.groupBy(("v_id" +: g.keys).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per `keys` group, the per-dimension `floor(mean)` of the integer
    * vectors in `vec`, as the array column `out`. Integer sums are
    * order-free, and floor of the double division of a sum below 2^52
    * by a count is exact, so the centroid is bit-reproducible in SQL.
    * One (keys, dim) groupBy, map-side combined.
    */
  private def floorMean(
      members: DataFrame, keys: Seq[String], vec: String, out: String): DataFrame = {
    val ks = keys.map(col)
    members.select(ks :+ posexplode(col(vec)).as(Seq("d", "x")): _*)
      .groupBy(ks :+ col("d"): _*)
      .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("mu"))
      .groupBy(ks: _*)
      .agg(transform(array_sort(collect_list(struct(col("d"), col("mu")))),
        _.getField("mu")).as(out))
  }

  /** Cosine of two integer vectors from their dot and self-dots: 0.0
    * when either is the zero vector, else `idot / (sqrt(aa)·sqrt(bb))`,
    * each step one correctly-rounded IEEE op, so the oracle reproduces
    * it bit for bit.
    */
  def intCosine(idot: Column, aa: Column, bb: Column): Column =
    when(aa === 0L || bb === 0L, lit(0.0))
      .otherwise(idot.cast("double") / (sqrt(aa.cast("double")) * sqrt(bb.cast("double"))))

  /** Deterministic fixed-iteration k-means codebook `(keys, cid, ce)`
    * over a `g`-grain frame, one codebook per key value. Seeds are the
    * rows of the `k` lowest `v_id`s (fewer when there are fewer
    * vectors); each iteration assigns every vector to its
    * [[nearestCell]] and moves each centroid to the [[floorMean]] of its
    * members. Empty cells keep their previous centroid. `iters = 0` is
    * the training-free lowest-id codebook.
    *
    * Scale shape: the codebook is a broadcast dimension each round,
    * assignment is map-side and the mean is one (keys, cell, dim)
    * groupBy: the classic Spark k-means sans MLlib, with every step a
    * DataFrame op. A keyed grain seeds from the `k` lowest ids once for
    * every key (a PQ vector has a row in every block), not from a
    * per-key window over the corpus. The seeds and each round's
    * codebook (k x dims cells per key) are collected and fed back as a
    * local relation, as MLlib keeps its centres on the driver: the
    * returned codebook's plan reads nothing, and round r plans one
    * codebook, not the 2^r copies of the earlier rounds a lazily
    * chained codebook holds.
    */
  def kmeansCodebook(v: DataFrame, g: Grain, k: Int, iters: Int): DataFrame = {
    val keys = g.keys.map(col)
    def onDriver(cb: DataFrame): DataFrame =
      v.sparkSession.createDataFrame(cb.collect().toSeq.asJava, cb.schema)
    val seeds =
      if (g.keys.isEmpty) v.orderBy(col("v_id")).limit(k)
      else v.join(broadcast(v.select(col("v_id")).distinct().orderBy(col("v_id")).limit(k)),
        Seq("v_id"))
    var cents = onDriver(seeds.select(keys :+ col("v_id").as("cid") :+ col(g.vec).as("ce"): _*))
    for (_ <- 1 to iters) {
      val means = floorMean(nearestCell(d2Table(v, cents, g), g, g.vec),
        g.keys :+ "cell", g.vec, "me")
      cents = onDriver(cents
        .join(means.withColumnRenamed("cell", "cid"), g.keys :+ "cid", "left")
        .select(keys :+ col("cid") :+ coalesce(col("me"), col("ce")).as("ce"): _*))
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
    val v = ivfVectors(vectors, idCol, embCol)
    d2Table(v, kmeansCodebook(v, Ivf, numCells, kmeansIters), Ivf).drop("ce", "cc")
  }

  /** `(v_id, ie, aa, cell)`: each vector's nearest cell in an
    * [[ivfDists]] frame.
    */
  def ivfAssignFrom(dists: DataFrame): DataFrame =
    nearestCell(dists, Ivf, "ie", "aa").drop("d2")

  /** Assignment against a FROZEN codebook — the incremental-index
    * append: a new batch lands in the nearest existing cell without
    * retraining (centroid drift is deferred to the next scheduled
    * rebuild, the standard production trade). `v` is an [[Ivf]]-grain
    * frame; `cents` is a trained (cid, ce) codebook, broadcast —
    * assignment is one map-side pass + a per-vector argmin, never a
    * shuffle of the batch against the corpus.
    */
  def ivfAssignFrozen(v: DataFrame, cents: DataFrame): DataFrame =
    ivfAssignFrom(d2Table(v, cents, Ivf))

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

  /** The `nprobe` nearest cells of every vector of a `dists` frame, by
    * d2, ties to the lower cid: the probe (query) side of an IVF serving
    * path, restricted to the `nQueries` panel when given (the index side
    * stays the full corpus).
    */
  private def probeCells(dists: DataFrame, nprobe: Int, nQueries: Option[Int]): DataFrame =
    nQueries.fold(dists)(q => dists.join(broadcast(queryPanel(dists, q)), Seq("v_id")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("v_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("pr") <= nprobe)

  /** IVF ANN top-k over a prebuilt [[ivfDists]] frame (persist it: the
    * assignment and the probes both read it): queries probe their `nprobe`
    * nearest cells and exact-rank only the vectors assigned there — the
    * inverted-file analogue of [[annTopK]]'s hash buckets. Per-query
    * candidate count is bounded by the probed cells' population
    * (~ nprobe * N / numCells), never N. The distance frame IS the IVF
    * index, built once per corpus and probed by every retrieval query.
    *
    * The final ranking is by exact COSINE over the integer embeddings
    * ([[intCosine]]), not by raw dot: raw-dot order diverges from the
    * true neighbor order whenever corpus norms vary, which costs recall
    * that no amount of probing recovers. This is the re-rank half of the
    * probe-wider/exact-rank recall recipe; nprobe is the other half (see
    * AnnRecallSpec's sweep).
    *
    * `nQueries` bounds the query side to the deterministic
    * hash-reservoir panel (the scale-safe way to serve a PINNED-cells
    * index — see [[queryPanel]]); None keeps every corpus vector as a
    * query, which is only linear when numCells tracks the corpus (√N
    * law).
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
    val assign = ivfAssignFrom(dists)
    val probes = probeCells(dists, nprobe, nQueries)
      .select(col("v_id").as("q_id"), col("ie").as("q_ie"),
        col("aa").as("q_aa"), col("cid").as("cell"))
    probes
      .join(assign.select(col("v_id").as("c_id"), col("ie").as("c_ie"),
          col("aa").as("c_aa"), col("cell")),
        Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        intCosine(dotL(col("q_ie"), col("c_ie")), col("q_aa"), col("c_aa")).as("cos"))
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
    val assign = ivfAssignFrom(dists)
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
    val probes = probeCells(dists, nprobe, nQueries)
      .select(col("v_id").as("q_id"),
        slice(col("ie"), 1, prefixDims).as("q_pre"), col("cid").as("cell"))
      .repartition(parts, col("cell"))
    val cands = assign
      .select(col("v_id").as("c_id"),
        slice(col("ie"), 1, prefixDims).as("c_pre"), col("cell"))
      .repartition(parts, col("cell"))
    val coarse = probes.join(cands, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), dotL(col("q_pre"), col("c_pre")).as("pdot"))
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
      .withColumn("cos",
        intCosine(dotL(col("q_ie"), col("c_ie")), col("q_aa"), col("c_aa")))
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
        dotL(col("q.ie"), col("c.ie")).as("idot"))
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
    * Determinism: the centroid is the [[floorMean]] of the label's
    * INTEGER embeddings ([[intEmbedding]]), the k-means centroid rule;
    * the cosine is [[intCosine]]. Ties break by ascending vec_id.
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
    val v = embs.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        intEmbedding(col(embCol)).as("ie"))
      .withColumn("aa", dotL(col("ie"), col("ie")))
    val cents = floorMean(v, Seq("label"), "ie", "ce")
      .withColumn("cc", dotL(col("ce"), col("ce")))
    v.join(broadcast(cents), Seq("label"))
      .withColumn("cos", intCosine(dotL(col("ie"), col("ce")), col("aa"), col("cc")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("cos").asc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("label"), col("vec_id"), col("cos"), col("rank"))
  }

  // ---- product quantization (PQ) ----------------------------------------
  //
  // The standard embedding-compression layout for billion-vector ANN:
  // split each vector into `numBlocks` contiguous subvectors, k-means
  // each subspace independently ([[kmeansCodebook]] over the [[Pq]]
  // grain), store one small code per block — a 64-dim float vector
  // becomes numBlocks bytes plus a shared codebook.

  /** (v_id, block, sv, ss) — the per-block subvector frame. A narrow
    * explode of the integer embedding: no shuffle.
    */
  def pqSubvectors(
      vectors: DataFrame, idCol: String, embCol: String,
      numBlocks: Int, dims: Int): DataFrame = {
    val sub = dims / numBlocks
    vectors.select(col(idCol).as("v_id"), intEmbedding(col(embCol)).as("ie"))
      .select(col("v_id"), explode(transform(
        sequence(lit(0), lit(numBlocks - 1)),
        b => struct(b.cast("long").as("block"),
          slice(col("ie"), b * lit(sub) + lit(1), lit(sub)).as("sv")))).as("x"))
      .select(col("v_id"), col("x.block").as("block"), col("x.sv").as("sv"))
      .withColumn("ss", dotL(col("sv"), col("sv")))
  }

  /** PQ encode: `(v_id, block, code, q_err)` — per block, the nearest
    * codebook centroid ([[nearestCell]]) and its d2 as a self-auditing
    * quantization-error column. One broadcast join + one keyed argmin;
    * the corpus never self-joins.
    */
  def pqAssignFrom(sv: DataFrame, codebook: DataFrame): DataFrame =
    nearestCell(d2Table(sv, codebook, Pq), Pq)
      .select(col("v_id"), col("block"), col("cell").as("code"), col("d2").as("q_err"))

  /** The ADC scoring shared by [[pqAdcTopK]] and [[ivfPqTopK]]: the
    * query subvectors' distance table `(q_id, block, cid, qd2)` to the
    * codebook goes to `score`, which joins it to the candidates' codes
    * and returns `(q_id, c_id, qd2)` rows; the per-pair sum of `qd2` is
    * `approx_d2`, and each query keeps its `topK` smallest, ties to the
    * lower c_id.
    */
  private def adcTopK(sv: DataFrame, codebook: DataFrame, queryPred: Column, topK: Int)(
      score: DataFrame => DataFrame): DataFrame = {
    val dtab = d2Table(sv.filter(queryPred), codebook, Pq)
      .select(col("v_id").as("q_id"), col("block"), col("cid"), col("d2").as("qd2"))
    score(dtab)
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("qd2")).as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("approx_d2").asc, col("c_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"), col("approx_d2"), col("rank"))
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
      queryPred: Column, topK: Int): DataFrame =
    adcTopK(sv, codebook, queryPred, topK) { dtab =>
      codes.join(broadcast(dtab),
          codes("block") === dtab("block") && codes("code") === dtab("cid") &&
            codes("v_id") =!= dtab("q_id"))
        .select(col("q_id"), codes("v_id").as("c_id"), col("qd2"))
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
    val assign = ivfAssignFrom(dists).select(col("v_id").as("c_id"), col("cell"))
    val cand = probeCells(dists.filter(queryPred), nprobe, None)
      .select(col("v_id").as("q_id"), col("cid").as("cell"))
      .join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
    adcTopK(sv, codebook, queryPred, topK) { dtab =>
      cand.join(codes, cand("c_id") === codes("v_id"))
        .join(broadcast(dtab),
          dtab("q_id") === cand("q_id") && dtab("block") === codes("block") &&
            dtab("cid") === codes("code"))
        .select(cand("q_id"), col("c_id"), col("qd2"))
    }
  }

  /** Leading eigenvalue of each label's Gram matrix by POWER ITERATION
    * in exact integers, so the result is engine-deterministic without
    * any float summation. One aggregation per label ([[PcaPowerAgg]])
    * keeps the Gram g(i, j) = Σ ie_i·ie_j of the floor(x*1000) integer
    * embedding ([[intEmbedding]]); its `finish` runs the loop:
    *
    *  - the Gram is pre-scaled to |g2| < 2^24 by an arithmetic right
    *    shift (floor semantics, as the DuckDB oracle's `>>`);
    *  - each of the `iters` rounds is a Long matvec (< dims·2^56, so no
    *    overflow for dims ≤ 128) renormalized by shifting back under
    *    2^32, the shift count being the binary length (exact floor-log2);
    *  - a closing matvec gives the Rayleigh quotient from exact
    *    BigInteger dot products with ONE double division, and the Gram
    *    shift is undone by an exact power-of-two multiply.
    *
    * Returns (label, n_vecs, trace, eig1, expl_ratio) ordered by label;
    * eig1/trace is the variance share of the top component (uncentered
    * PCA — the ANN-relevant spectrum). `n_vecs` counts null embeddings
    * too; null labels, and labels with no non-null embedding, have no
    * row. A null component adds nothing, as SQL sums skip nulls, and a
    * label whose components are all null gets null trace, eig1 and
    * expl_ratio. The query fails on a non-null embedding whose length is
    * not `dims` (naming the label), on Long overflow, and, as ANSI
    * division does, on a zero divisor.
    */
  def gramPowerTopEig(vectors: DataFrame, embCol: String, labelCol: String,
      dims: Int, iters: Int): DataFrame = {
    val pca = udaf(new PcaPowerAgg(dims, iters), Encoders.product[PcaRow])
    vectors.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).as("label"))
      .agg(pca(col(labelCol).cast("string"), intEmbedding(col(embCol))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("label"), col("r.*"))
      .orderBy(col("label"))
  }

  final case class PcaRow(label: String, ie: Array[java.lang.Long])
  final case class PcaBuf(var rows: Long, var vecs: Long, var comps: Long, gram: Array[Long])
  final case class PcaOut(n_vecs: Long, trace: Option[Long], eig1: Option[Double],
      expl_ratio: Option[Double])

  /** One label's exact Gram (row-major, dims² cells), its row, non-null
    * embedding and non-null component counts; `finish` is the power
    * iteration of [[gramPowerTopEig]], `None` for a label with no
    * non-null embedding.
    */
  final class PcaPowerAgg(dims: Int, iters: Int)
      extends Aggregator[PcaRow, PcaBuf, Option[PcaOut]] {
    def zero: PcaBuf = PcaBuf(0L, 0L, 0L, new Array[Long](dims * dims))

    def reduce(b: PcaBuf, r: PcaRow): PcaBuf = {
      b.rows += 1
      if (r.ie != null) {
        require(r.ie.length == dims, s"gramPowerTopEig: label ${r.label} has an " +
          s"embedding of length ${r.ie.length}, expected $dims")
        b.vecs += 1
        b.comps += r.ie.count(_ != null)
        val x = r.ie.map(v => if (v == null) 0L else v.longValue)
        for (i <- 0 until dims; j <- 0 until dims)
          b.gram(i * dims + j) = Math.addExact(b.gram(i * dims + j),
            Math.multiplyExact(x(i), x(j)))
      }
      b
    }

    def merge(a: PcaBuf, b: PcaBuf): PcaBuf = {
      a.rows += b.rows
      a.vecs += b.vecs
      a.comps += b.comps
      for (k <- a.gram.indices) a.gram(k) = Math.addExact(a.gram(k), b.gram(k))
      a
    }

    def finish(b: PcaBuf): Option[PcaOut] =
      if (b.vecs == 0) None
      // every Gram cell is a sum of nulls: so is every sum after it
      else if (b.comps == 0) Some(PcaOut(b.rows, None, None, None))
      else {
        // the oracle's `length(bin(x))`
        def bitlen(x: Long): Int = math.max(64 - java.lang.Long.numberOfLeadingZeros(x), 1)
        def maxAbs(xs: Array[Long]): Long = xs.foldLeft(0L)((m, x) => math.max(m, Math.absExact(x)))
        def div(n: Double, d: Double): Double =
          if (d == 0) throw new ArithmeticException("gramPowerTopEig: division by zero") else n / d
        val sg = math.max(bitlen(maxAbs(b.gram)) - 24, 0)
        val g2 = b.gram.map(_ >> sg)
        def matvec(v: Array[Long]): Array[Long] = Array.tabulate(dims) { i =>
          (0 until dims).foldLeft(0L)((s, j) =>
            Math.addExact(s, Math.multiplyExact(g2(i * dims + j), v(j))))
        }
        var v = Array.fill(dims)(1L)
        for (_ <- 1 to iters) {
          val raw = matvec(v)
          val sv = math.max(bitlen(maxAbs(raw)) - 32, 0)
          v = raw.map(_ >> sv)
        }
        val w = matvec(v)
        def dot(a: Array[Long], c: Array[Long]): Double = a.indices.foldLeft(BigInteger.ZERO)(
          (s, k) => s.add(BigInteger.valueOf(a(k)).multiply(BigInteger.valueOf(c(k))))).doubleValue
        val eig1 = div(dot(v, w), dot(v, v)) * (1L << sg).toDouble
        val trace = (0 until dims).foldLeft(0L)((s, i) => Math.addExact(s, b.gram(i * dims + i)))
        Some(PcaOut(b.rows, Some(trace), Some(eig1), Some(div(eig1, trace.toDouble))))
      }

    def bufferEncoder: Encoder[PcaBuf] = Encoders.product[PcaBuf]
    def outputEncoder: Encoder[Option[PcaOut]] = ExpressionEncoder[Option[PcaOut]]()
  }
}
