package graft.similarity

import graft.SparkSpec
import graft.suite.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** ANN quality gate: LSH-bucketed top-k must recover a reasonable
  * fraction of the exact top-k — the check that the scale path is not
  * just fast but useful.
  */
class AnnRecallSpec extends SparkSpec {

  /** IVF top-k pairs of the queries `vec_id < 50` at (cells, nprobe):
    * the distance frame is persisted for the probe, which reads it
    * twice, and released after it.
    */
  private def ivfPairs(emb: DataFrame, cells: Int, np: Int, k: Int): Set[(Long, Long)] = {
    val dists = Similarity.ivfDists(emb, "vec_id", "embedding", cells)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try Similarity.ivfTopKFrom(dists, nprobe = np, k = k)
      .filter(col("q_id") < 50)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    finally dists.unpersist()
  }

  test("LSH ANN recall@3 vs brute-force cosine on real embeddings") {
    val dir = "/root/testdata/sf0.001"
    val emb = Registry.tbl(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)

    val exact = SimilaritySpec.cosineTopK(queries, emb, "vec_id", "embedding", k = 3)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", 4, 64, k = 3,
        multiProbe = true)
      .filter(col("q_id") < 50)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = (exact & ann).size.toDouble / exact.size
    info(f"recall@3 = $recall%.2f (${(exact & ann).size}/${exact.size})")
    // 4 hyperplanes split the corpus into 16 buckets; same-bucket
    // neighbors ranked by integer dot should recover a meaningful share
    // of the true neighbors. This is a floor, not a target.
    assert(recall >= 0.3, f"ANN recall collapsed: $recall%.2f")
  }

  test("IVF ANN: disjoint cells, bounded candidates, recall sweep, quality point") {
    val dir = "/root/testdata/sf0.001"
    val emb = Registry.tbl(spark, dir, "embeddings").cache()

    val assign = Similarity.ivfAssignFrom(Similarity.ivfDists(emb, "vec_id", "embedding", 8))
    // every vector lands in exactly one cell
    assert(assign.count() === emb.count())
    assert(assign.select("cell").distinct().count() <= 8)

    val exact = SimilaritySpec.cosineTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallAt(cells: Int, np: Int): Double = {
      val ivf = ivfPairs(emb, cells, np, k = 3)
      (exact & ivf).size.toDouble / exact.size
    }

    // the recorded nprobe/numCells sweep (cosine re-rank active in all):
    //   cells=8:  np=2 .63 | np=3 .69 | np=4 .79 | np=5 .89 | np=6 .93
    //   cells=16: np=2 .55 | np=3 .63 | np=4 .70 | np=6 .79
    //   cells=8, np=8 (full probe) = .99 — the residual is the
    //   floor(x*1000) integer-quantization ranking noise, not coverage.
    // On this 500-vector corpus 8 cells ≈ 60 vectors/cell; at real N the
    // cell count scales ~sqrt(N) and the same nprobe/cells RATIO holds.
    val sweep = for ((cells, np) <- Seq((8, 2), (8, 4), (8, 6), (16, 2)))
      yield ((cells, np), recallAt(cells, np))
    sweep.foreach { case ((c, np), r) => info(f"cells=$c nprobe=$np recall@3=$r%.3f") }
    val byKey = sweep.toMap

    // quality point: probe wider + exact cosine re-rank ≥ 0.9
    assert(byKey((8, 6)) >= 0.9, f"quality point collapsed: ${byKey((8, 6))}%.3f")
    // monotone in nprobe (probing more cells never hurts recall)
    assert(byKey((8, 2)) <= byKey((8, 4)) && byKey((8, 4)) <= byKey((8, 6)))
    // throughput point (the registered query's 16-cell shape) keeps a floor
    assert(byKey((16, 2)) >= 0.5, f"throughput point collapsed: ${byKey((16, 2))}%.3f")
  }

  test("IVF recall@10 at the common retrieval operating point") {
    val dir = "/root/testdata/sf0.001"
    val emb = Registry.tbl(spark, dir, "embeddings").cache()

    val exact = SimilaritySpec.cosineTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 10)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallAt10(np: Int): Double = {
      val ivf = ivfPairs(emb, 8, np, k = 10)
      (exact & ivf).size.toDouble / exact.size
    }

    // k=10 wants a larger candidate pool than k=3: the true 10-NN of a
    // query spread over more cells, so recall at fixed nprobe sits below
    // the @3 curve — the standard ANN tradeoff the sweep records.
    val sweep = for (np <- Seq(2, 4, 6)) yield (np, recallAt10(np))
    sweep.foreach { case (np, r) => info(f"cells=8 nprobe=$np recall@10=$r%.3f") }
    val byNp = sweep.toMap
    assert(byNp(6) >= 0.9, f"recall@10 quality point collapsed: ${byNp(6)}%.3f")
    assert(byNp(2) <= byNp(4) && byNp(4) <= byNp(6),
      "recall@10 must be monotone in nprobe")
  }

  test("prefix-rerank funnel: recall vs plain IVF at the same probe budget") {
    val dir = "/root/testdata/sf0.001"
    val emb = Registry.tbl(spark, dir, "embeddings").cache()
    val dists = Similarity.ivfDists(emb, "vec_id", "embedding", 8).cache()

    def setOf(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("q_id") < 50).select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = setOf(SimilaritySpec.cosineTopK(
      emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", k = 3))
    val ivf = setOf(Similarity.ivfTopKFrom(dists, nprobe = 4, k = 3))
    // full-width shortlist (prefix = all 64 dims) ranks identically to
    // plain IVF whenever the shortlist is wide enough — the funnel's
    // only loss source is the coarse prefix ordering
    val fullPrefix = setOf(Similarity.ivfPrefixRerankTopK(
      dists, nprobe = 4, prefixDims = 64, shortlist = 50, k = 3))
    assert(fullPrefix == ivf, "prefix=64/shortlist=50 must equal plain IVF")

    val rIvf = (exact & ivf).size.toDouble / exact.size
    val sweep = for (pd <- Seq(4, 8, 16)) yield pd -> {
      val f = setOf(Similarity.ivfPrefixRerankTopK(
        dists, nprobe = 4, prefixDims = pd, shortlist = 10, k = 3))
      (exact & f).size.toDouble / exact.size
    }
    sweep.foreach { case (pd, r) =>
      info(f"prefix=$pd shortlist=10 recall@3=$r%.3f (plain IVF $rIvf%.3f)") }
    val byPd = sweep.toMap
    // Measured on THIS corpus: prefix=4 .10 | prefix=8 .15 | prefix=16
    // .27 vs plain IVF .79 — the honest negative result: these
    // synthetic embeddings are isotropic, so a d-dim prefix carries
    // only ~d/D of the signal and the shortlist misses most true
    // neighbors. The funnel's premise is an MRL-TRAINED embedding
    // whose prefix concentrates the signal; the operator supplies the
    // shape (and the full-prefix identity above proves the mechanism),
    // the embedding must supply the information ordering. What must
    // hold universally: more prefix dims never hurt.
    assert(byPd(4) <= byPd(8) && byPd(8) <= byPd(16),
      s"recall must be monotone in prefixDims: $byPd")
    spark.catalog.clearCache()
  }

  test("an IVF recall sweep leaves nothing cached in the session") {
    import spark.implicits._
    spark.catalog.clearCache()
    val emb = (0 until 60).map(i => (i.toLong,
      Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5) / 4.0f))).toDF("vec_id", "embedding")
    for ((cells, np) <- Seq((8, 2), (16, 4))) ivfPairs(emb, cells, np, k = 3)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
