package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product-quantization contracts the oracle compare can't express:
  * the assignment really is the per-block argmin (brute-force check),
  * codes form a complete numBlocks-per-vector layout drawn from the
  * seed id set, and one training sweep strictly reduces total
  * quantization error versus the training-free codebook.
  */
class PqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val (blocks, dims, k) = (8, 64, 16)

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("codes are complete, in the codebook id range, and argmin-correct") {
    val sv = Similarity.pqSubvectors(emb, "vec_id", "embedding", blocks, dims)
    val codebook = Similarity.kmeansCodebook(sv, Similarity.Pq, k, iters = 1)
    val codes = Similarity.pqAssignFrom(sv, codebook).collect()
    val n = emb.count()
    assert(codes.length == n * blocks, "one code per (vector, block)")

    val seedIds = emb.select(col("vec_id")).orderBy("vec_id")
      .limit(k).collect().map(_.getLong(0)).toSet
    assert(codes.forall(r => seedIds.contains(r.getLong(2))),
      "every code must be a seed centroid id")

    // brute-force argmin over the same codebook for a sample of vectors
    val cents = codebook.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2).toArray)).toMap
    val sample = sv.filter(col("v_id") % 37 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val got = codes.map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getLong(3)))).toMap
    sample.foreach { case (v, b, x) =>
      val best = cents.collect { case ((bb, cid), ce) if bb == b =>
        val d2 = x.zip(ce).map { case (a, c) => (a - c) * (a - c) }.sum
        (d2, cid)
      }.min
      assert(got((v, b)) == (best._2, best._1),
        s"argmin mismatch at vector $v block $b")
    }
  }

  test("ADC scores are exactly the sum of per-block code distances") {
    val sv = Similarity.pqSubvectors(emb, "vec_id", "embedding", blocks, dims)
    val cents = Similarity.kmeansCodebook(sv, Similarity.Pq, k, iters = 1)
    val codes = Similarity.pqAssignFrom(sv, cents)
    val adc = Similarity.pqAdcTopK(sv, cents, codes,
      queryPred = col("v_id") < 10, topK = 3).collect()
    assert(adc.length == 10 * 3)

    // local recomputation of the ADC sum for every reported pair
    val svL = sv.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2).toArray)).toMap
    val ceL = cents.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2).toArray)).toMap
    val codeL = codes.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    adc.foreach { r =>
      val (q, c, d2) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = (0L until blocks).map { b =>
        val qv = svL((q, b)); val ce = ceL((b, codeL((c, b))))
        qv.zip(ce).map { case (a, x) => (a - x) * (a - x) }.sum
      }.sum
      assert(d2 == expect, s"ADC sum mismatch for ($q, $c)")
    }

    // informational: recall@3 of ADC vs exact integer-d2 neighbors
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    def full(v: Long): Array[Long] =
      (0L until blocks).flatMap(b => svL((v, b))).toArray
    val recall = (0 until 10).map { qi =>
      val q = ids.sorted.apply(qi)
      val qv = full(q)
      val exact = ids.filter(_ != q).map { c =>
        val cv = full(c)
        (qv.zip(cv).map { case (a, x) => (a - x) * (a - x) }.sum, c)
      }.sorted.take(3).map(_._2).toSet
      val got = adc.filter(_.getLong(0) == q).map(_.getLong(1)).toSet
      (exact & got).size / 3.0
    }.sum / 10
    info(f"ADC recall@3 vs exact d2: $recall%.2f")
    assert(recall > 0.0, "ADC must recover at least some exact neighbors")
  }

  test("IVF+PQ: candidates come from probed cells, scores are exact ADC sums") {
    val dists = Similarity.ivfDists(emb, "vec_id", "embedding", numCells = 16)
    val sv = Similarity.pqSubvectors(emb, "vec_id", "embedding", blocks, dims)
    val cents = Similarity.kmeansCodebook(sv, Similarity.Pq, k, iters = 1)
    val codes = Similarity.pqAssignFrom(sv, cents)
    val out = Similarity.ivfPqTopK(dists, sv, cents, codes,
      nprobe = 2, queryPred = col("v_id") < 10, topK = 3).collect()
    assert(out.nonEmpty && out.length <= 10 * 3)

    // candidate cells must be among the query's 2 nearest cells
    val cellOf = Similarity.ivfAssignFrom(dists).select("v_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = dists.filter(col("v_id") < 10)
      .select("v_id", "cid", "d2").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(2), r.getLong(1))).sorted.take(2)
          .map(_._2).toSet
      }
    out.foreach { r =>
      val (q, c) = (r.getLong(0), r.getLong(1))
      assert(probed(q).contains(cellOf(c)),
        s"candidate $c of query $q sits outside the probed cells")
    }

    // scores must equal the plain ADC sum for the same pairs
    val svL = sv.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2).toArray)).toMap
    val ceL = cents.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2).toArray)).toMap
    val codeL = codes.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    out.foreach { r =>
      val (q, c, d2) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = (0L until blocks).map { b =>
        val qv = svL((q, b)); val ce = ceL((b, codeL((c, b))))
        qv.zip(ce).map { case (a, x) => (a - x) * (a - x) }.sum
      }.sum
      assert(d2 == expect, s"IVF+PQ ADC sum mismatch for ($q, $c)")
    }
  }

  test("one refinement sweep reduces total quantization error") {
    def totalErr(iters: Int): Long = {
      val sv = Similarity.pqSubvectors(emb, "vec_id", "embedding", blocks, dims)
      Similarity.pqAssignFrom(sv, Similarity.kmeansCodebook(sv, Similarity.Pq, k, iters))
        .agg(sum(col("q_err"))).head().getLong(0)
    }
    val untrained = totalErr(0)
    val trained = totalErr(1)
    assert(trained < untrained,
      s"training must help: iters=1 err $trained >= iters=0 err $untrained")
  }
}
