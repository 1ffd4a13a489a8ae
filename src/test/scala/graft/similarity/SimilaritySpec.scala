package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object SimilaritySpec {

  def cosine(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))

  /** Brute-force cosine top-k, the exact reference of the ANN specs:
    * each query vector against the full corpus, ranked per query by
    * (cos desc, c_id).
    */
  def cosineTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select(col(idCol).as(s"${p}_id"),
          transform(col(embCol), _.cast("double")).as(s"${p}_emb"))
        .withColumn(s"${p}_norm", Similarity.norm(col(s"${p}_emb")))
    side(queries, "q").crossJoin(side(corpus, "c"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", Similarity.dot(col("q_emb"), col("c_emb")) /
        (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._
  import SimilaritySpec.{cosine, cosineTopK}

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),   // closest to 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))   // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine top-k ranks by similarity with deterministic tiebreak") {
    val got = cosineTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq === Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("cosine of identical vectors is exactly 1.0 for unit vectors") {
    val c = vecs.as("a").join(vecs.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(cosine(
        transform(col("a.embedding"), _.cast("double")),
        transform(col("b.embedding"), _.cast("double"))).as("c"))
      .collect().map(_.getDouble(0))
    assert(c.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("lsh bucket: opposite vectors land in complementary sign buckets") {
    val b = vecs.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 4, 4).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical-direction vectors share a bucket
    assert(b(0L) === b(1L))
  }

  test("annTopK within bucket returns the nearest same-bucket neighbor first") {
    val got = Similarity.annTopK(vecs, "vec_id", "embedding", 4, 4, k = 1)
      .filter(col("q_id") === 0).collect()
    assert(got.nonEmpty && got.head.getLong(1) === 1L)
  }

  test("quantizeInt8: extremes hit +/-127, zero vector survives, values in range") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0.5f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)),
      (3L, Seq(-2.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(got(1L) === ((0.5, Seq(127, -127, 63))))
    assert(got(2L) === ((0.0, Seq(0, 0, 0))))
    assert(got(3L)._1 === 2.0)
    assert(got(3L)._2.head === -127)
    assert(got.values.forall(_._2.forall(q => q >= -127 && q <= 127)))
  }

  test("cosinePairsBlocked: subset of brute force, finds the near pair, no nested-loop join") {
    val blocked = Similarity.cosinePairsBlocked(vecs, "vec_id", "embedding",
      numPlanes = 4, dims = 4, minCos = 0.9)
    val got = blocked.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L))) // same-direction pair survives blocking
    // every blocked pair is a true >= minCos pair (verification is exact)
    val brute = vecs.as("x").join(vecs.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        cosine(transform(col("x.embedding"), _.cast("double")),
          transform(col("y.embedding"), _.cast("double"))).as("cos"))
      .filter(col("cos") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute))
    // the plan is bucket-equi-join shaped: no all-pairs fallback
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("labelOutliers: a planted flipped vector ranks as its label's top outlier") {
    // label 0: three near-identical vectors plus one pointing the other
    // way; label 1: a clean cluster. The flipped vector must be rank 1
    // for label 0, and every clean cluster member scores near 1.
    def vec(sign: Double, jitter: Double): Seq[Float] =
      (0 until 8).map(i => (sign * (1.0 + (if (i == 0) jitter else 0))).toFloat)
    val rows = Seq(
      (1L, "a", vec(1, 0)), (2L, "a", vec(1, 0.01)), (3L, "a", vec(1, 0.02)),
      (4L, "a", vec(-1, 0)), // planted outlier
      (10L, "b", vec(1, 0)), (11L, "b", vec(1, 0.01))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.labelOutliers(rows, "vec_id", "embedding", "label", k = 6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val a = got.filter(_._1 == "a").sortBy(_._4)
    assert(a.head._2 === 4L, s"flipped vector should rank first: ${a.toSeq}")
    assert(a.head._3 < 0, "outlier cosine to centroid should be negative")
    assert(a.tail.forall(_._3 > 0.9), s"clean members should score ~1: ${a.toSeq}")
  }
}
