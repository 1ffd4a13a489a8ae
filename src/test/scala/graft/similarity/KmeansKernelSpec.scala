package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IVF, PQ and label-centroid operators, which share one integer
  * k-means ([[Similarity.kmeansCodebook]]) and one copy of each kernel
  * (d2 table, nearest-centroid argmin, floor-mean centroid, integer
  * cosine, nprobe window, ADC tail), against the per-operator bodies
  * they replaced, rebuilt here as the reference. Schemas and sorted rows
  * must agree bit for bit on seeded corpora at 0, 1 and 2 k-means
  * iterations. The corpora hold equal-d2 ties, a cell that goes empty,
  * an all-zero vector and a `k` above the vector count; the last test
  * checks that they do.
  */
class KmeansKernelSpec extends SparkSpec {

  import spark.implicits._

  // ---- the per-operator bodies, as reference -----------------------------

  private object Reference {
    private val dotL = graft.functions.VectorExpressions.dotLong _

    def kmeansCodebook(v: DataFrame, numCells: Int, iters: Int): DataFrame = {
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

    def ivfDists(vectors: DataFrame, numCells: Int, iters: Int): DataFrame = {
      val v = vectors.select(col("vec_id").as("v_id"),
          Similarity.intEmbedding(col("embedding")).as("ie"))
        .withColumn("aa", dotL(col("ie"), col("ie")))
      val cents = kmeansCodebook(v, numCells, iters)
        .withColumn("cc", dotL(col("ce"), col("ce")))
      v.join(broadcast(cents))
        .withColumn("d2", col("aa") - lit(2L) * dotL(col("ie"), col("ce")) + col("cc"))
        .drop("ce", "cc")
    }

    def ivfArgmin(dists: DataFrame): DataFrame =
      dists.groupBy(col("v_id"))
        .agg(
          first(col("ie")).as("ie"),
          first(col("aa")).as("aa"),
          min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))

    def ivfAssignFrozen(v: DataFrame, cents: DataFrame): DataFrame =
      v.join(broadcast(cents.withColumn("cc", dotL(col("ce"), col("ce")))))
        .withColumn("d2", col("aa") - lit(2L) * dotL(col("ie"), col("ce")) + col("cc"))
        .groupBy(col("v_id"))
        .agg(first(col("ie")).as("ie"), first(col("aa")).as("aa"),
          min_by(col("cid"), struct(col("d2"), col("cid"))).as("cell"))

    private def queryPanel(dists: DataFrame, nQueries: Int): DataFrame =
      dists.select(col("v_id")).distinct()
        .withColumn("__b", graft.operators.Sampling.hashBucket(col("v_id"), 1000000000))
        .orderBy(col("__b"), col("v_id")).limit(nQueries)
        .select(col("v_id"))

    private def restrictToPanel(dists: DataFrame, nQueries: Option[Int]): DataFrame =
      nQueries match {
        case Some(q) => dists.join(broadcast(queryPanel(dists, q)), Seq("v_id"))
        case None => dists
      }

    def ivfCandidatesFrom(dists: DataFrame, nprobe: Int, nQueries: Option[Int]): DataFrame = {
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
          dotL(col("q_ie"), col("c_ie")).as("idot"),
          col("q_aa"), col("c_aa"))
        .withColumn("cos",
          when(col("q_aa") === 0L || col("c_aa") === 0L, lit(0.0))
            .otherwise(col("idot") /
              (sqrt(col("q_aa").cast("double")) * sqrt(col("c_aa").cast("double")))))
        .select(col("q_id"), col("c_id"), col("cos"))
    }

    def ivfPrefixRerankTopK(dists: DataFrame, nprobe: Int, prefixDims: Int,
        shortlist: Int, k: Int, nQueries: Option[Int]): DataFrame = {
      val assign = ivfArgmin(dists)
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
        .select(col("q_id"), col("c_id"), dotL(col("q_pre"), col("c_pre")).as("pdot"))
        .withColumn("crank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("pdot").desc, col("c_id"))))
        .filter(col("crank") <= shortlist)
      val vecs = assign.select(col("v_id"), col("ie"), col("aa"))
      coarse
        .join(vecs.select(col("v_id").as("q_id"), col("ie").as("q_ie"),
          col("aa").as("q_aa")), Seq("q_id"))
        .join(vecs.select(col("v_id").as("c_id"), col("ie").as("c_ie"),
          col("aa").as("c_aa")), Seq("c_id"))
        .withColumn("idot", dotL(col("q_ie"), col("c_ie")))
        .withColumn("cos",
          when(col("q_aa") === 0L || col("c_aa") === 0L, lit(0.0))
            .otherwise(col("idot") /
              (sqrt(col("q_aa").cast("double")) * sqrt(col("c_aa").cast("double")))))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
    }

    def labelOutliers(embs: DataFrame, k: Int): DataFrame = {
      val v = embs.select(col("vec_id"), col("label"),
          Similarity.intEmbedding(col("embedding")).as("ie"))
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

    def pqCodebook(sv: DataFrame, k: Int, iters: Int): DataFrame = {
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

    def pqAssignFrom(sv: DataFrame, codebook: DataFrame): DataFrame = {
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

    def pqAdcTopK(sv: DataFrame, codebook: DataFrame, codes: DataFrame,
        queryPred: Column, topK: Int): DataFrame = {
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

    def ivfPqTopK(dists: DataFrame, sv: DataFrame, codebook: DataFrame, codes: DataFrame,
        nprobe: Int, queryPred: Column, topK: Int): DataFrame = {
      val assign = ivfArgmin(dists).select(col("v_id").as("c_id"), col("cell"))
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
  }

  // ---- seeded inputs ------------------------------------------------------

  private val dims = 8
  private val blocks = 2

  /** `n` seeded `dims`-dim vectors in 4 labels, ids `3i + 7`, coordinates
    * multiples of 1/8 in [-5, 5] (exact in float, so `floor(x * 1000)`
    * is too). Vector 1 copies vector 0, so at the seed codebook every
    * vector is equally far from the first two centroids (a tie in every
    * row, and in every PQ block), and the second cell gets no member in
    * the first round; vector 5 is all zeros.
    */
  private def corpus(seed: Long, n: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val vecs = Array.fill(n)(Seq.fill(dims)((rng.nextInt(81) - 40) / 8.0f))
    vecs(1) = vecs(0)
    vecs(5) = Seq.fill(dims)(0.0f)
    vecs.toSeq.zipWithIndex.map { case (e, i) => (3L * i + 7, e, i % 4) }
      .toDF("vec_id", "embedding", "label")
  }

  private val zeroId = 3L * 5 + 7

  /** (name, corpus, k): k = 5 cells over 60 vectors, and k = 16 over 12. */
  private lazy val cases = Seq(("60 vectors, k 5", corpus(20261019L, 60), 5),
    ("12 vectors, k 16", corpus(7L, 12), 16))

  private def ivfVectors(emb: DataFrame) = Similarity.ivfVectors(emb, "vec_id", "embedding")
  private def subvectors(emb: DataFrame) =
    Similarity.pqSubvectors(emb, "vec_id", "embedding", blocks, dims)

  // ---- comparisons --------------------------------------------------------

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ";", "]")
      case x => String.valueOf(x)
    }.mkString(",")).toSeq.sorted

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema, what)
    assert(rows(got) === rows(want), what)
  }

  private val queries = col("v_id") < 40

  for (iters <- Seq(0, 1, 2)) {
    test(s"IVF codebook, distances and assignments equal the reference at iters $iters") {
      for ((name, emb, k) <- cases) {
        val v = ivfVectors(emb)
        val cents = Similarity.kmeansCodebook(v, Similarity.Ivf, k, iters)
        val refCents = Reference.kmeansCodebook(v, k, iters)
        assertSame(s"$name codebook", cents, refCents)
        val dists = Similarity.ivfDists(emb, "vec_id", "embedding", k, iters)
        val refDists = Reference.ivfDists(emb, k, iters)
        assertSame(s"$name ivfDists", dists, refDists)
        assertSame(s"$name ivfAssignFrom", Similarity.ivfAssignFrom(dists),
          Reference.ivfArgmin(refDists))
        val batch = v.filter(col("v_id") % 2 === 0)
        assertSame(s"$name ivfAssignFrozen", Similarity.ivfAssignFrozen(batch, cents),
          Reference.ivfAssignFrozen(batch, refCents))
      }
    }

    test(s"PQ codebook, codes and ADC top-k equal the reference at iters $iters") {
      for ((name, emb, k) <- cases) {
        val sv = subvectors(emb)
        val cb = Similarity.kmeansCodebook(sv, Similarity.Pq, k, iters)
        val refCb = Reference.pqCodebook(sv, k, iters)
        assertSame(s"$name codebook", cb, refCb)
        val codes = Similarity.pqAssignFrom(sv, cb)
        val refCodes = Reference.pqAssignFrom(sv, refCb)
        assertSame(s"$name pqAssignFrom", codes, refCodes)
        assertSame(s"$name pqAdcTopK", Similarity.pqAdcTopK(sv, cb, codes, queries, 3),
          Reference.pqAdcTopK(sv, refCb, refCodes, queries, 3))
      }
    }

    test(s"IVF candidates, prefix rerank and IVF+PQ top-k equal the reference at iters $iters") {
      for ((name, emb, k) <- cases) {
        val dists = Similarity.ivfDists(emb, "vec_id", "embedding", k, iters)
        val refDists = Reference.ivfDists(emb, k, iters)
        for (panel <- Seq(None, Some(6))) {
          assertSame(s"$name ivfCandidatesFrom $panel",
            Similarity.ivfCandidatesFrom(dists, 2, panel),
            Reference.ivfCandidatesFrom(refDists, 2, panel))
          assertSame(s"$name ivfPrefixRerankTopK $panel",
            Similarity.ivfPrefixRerankTopK(dists, 2, 4, 5, 3, panel),
            Reference.ivfPrefixRerankTopK(refDists, 2, 4, 5, 3, panel))
        }
        val sv = subvectors(emb)
        val cb = Similarity.kmeansCodebook(sv, Similarity.Pq, k, iters)
        val codes = Similarity.pqAssignFrom(sv, cb)
        assertSame(s"$name ivfPqTopK",
          Similarity.ivfPqTopK(dists, sv, cb, codes, 2, queries, 3),
          Reference.ivfPqTopK(refDists, sv, cb, codes, 2, queries, 3))
      }
    }
  }

  test("labelOutliers equals the reference") {
    for ((name, emb, _) <- cases; k <- Seq(3, 100))
      assertSame(s"$name k $k",
        Similarity.labelOutliers(emb, "vec_id", "embedding", "label", k),
        Reference.labelOutliers(emb, k))
  }

  test("the k-means plan reads its input once at iters 0, 2 and 6") {
    val emb = graft.suite.Registry.tbl(spark, "/root/testdata/sf0.001", "embeddings")
    def scans(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => 1
    }.size
    val iters = Seq(0, 2, 6)
    assert(iters.map(i => scans(Similarity.ivfDists(emb, "vec_id", "embedding", 16, i))) ===
      Seq(1, 1, 1))
    // the codebooks themselves are local relations
    assert(iters.map(i => scans(Similarity.kmeansCodebook(ivfVectors(emb), Similarity.Ivf,
      16, i))) === Seq(0, 0, 0))
    assert(iters.map(i => scans(Similarity.kmeansCodebook(
      Similarity.pqSubvectors(emb, "vec_id", "embedding", 4, 64), Similarity.Pq, 16, i))) ===
      Seq(0, 0, 0))
  }

  test("the corpora hold equal-d2 ties, an empty cell, an all-zero vector and k above n") {
    for ((name, emb, k) <- cases) {
      val v = ivfVectors(emb)
      val seeds = Reference.kmeansCodebook(v, k, 0)
      // ties: vectors with two or more centroids at their least d2
      val d2 = Reference.ivfDists(emb, k, 0)
      val least = d2.groupBy("v_id").agg(min("d2").as("d2"))
      val tied = d2.join(least, Seq("v_id", "d2")).groupBy("v_id").count()
        .filter(col("count") > 1).count()
      assert(tied > 0, s"$name: no equal-d2 tie")
      // empty cell: a seed centroid no vector is assigned to in round 1
      val used = Reference.ivfAssignFrozen(v, seeds).select("cell").distinct().count()
      assert(used < seeds.count(), s"$name: no cell goes empty")
      // the all-zero vector scores cosine 0.0
      val zero = Similarity.labelOutliers(emb, "vec_id", "embedding", "label", 100)
        .filter(col("vec_id") === zeroId)
      assert(zero.collect().map(_.getDouble(2)).toSeq === Seq(0.0), name)
      assert(Similarity.ivfCandidatesFrom(Similarity.ivfDists(emb, "vec_id", "embedding", k), 2)
        .filter(col("q_id") === zeroId && col("cos") === 0.0).count() > 0, name)
    }
    val (_, small, k) = cases(1)
    assert(small.count() < k)
    assert(Similarity.kmeansCodebook(ivfVectors(small), Similarity.Ivf, k, 1).count() ===
      small.count())
  }
}
