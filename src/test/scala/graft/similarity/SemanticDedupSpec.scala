package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property check for the SemDeDup-style semantic dedup
  * (`dedup_semantic`): k-means cells block, exact cosine verifies,
  * connected components pick survivors. The oracle proves value
  * equality; this spec pins the semantic contract against an
  * independently-built brute-force pair set at sf0.001.
  */
class SemanticDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("semantic labels are a valid CC labeling of the within-cell cosine graph") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    // independent reconstruction of the blocked pair graph: same
    // assignment operator, naive pair scoring collected locally
    val assign = Similarity.ivfAssignFrom(
        Similarity.ivfDists(emb, "vec_id", "embedding", numCells = 16))
      .select(col("v_id"), col("ie"), col("aa"), col("cell"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2), r.getLong(3)))

    def cos(a: (Long, Array[Long], Long, Long), b: (Long, Array[Long], Long, Long)): Double =
      if (a._3 == 0 || b._3 == 0) 0.0
      else a._2.zip(b._2).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))

    val pairs = for {
      x <- assign; y <- assign
      if x._1 < y._1 && x._4 == y._4 && cos(x, y) >= 0.40
    } yield (x._1, y._1)

    // union-find ground truth over the brute pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(v: Long): Long = {
      val p = parent.getOrElse(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }

    val result = graft.SparkEntry.queries("dedup_semantic")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // one row per vector, survivor never exceeds the member id
    assert(result.size == assign.length)
    result.foreach { case (v, s) => assert(s <= v, s"survivor $s > member $v") }
    // survivor map is idempotent: a survivor survives as itself
    result.values.foreach(s => assert(result(s) == s, s"non-fixpoint survivor $s"))
    // exact agreement with the union-find components (min-id canonical)
    val roots = assign.map(_._1).map(v => v -> find(v)).toMap
    val canonical = roots.map { case (v, r) =>
      v -> roots.collect { case (u, ru) if ru == r => u }.min
    }
    assert(result == canonical, "CC labels diverge from brute-force components")
    // the graph is non-trivial at this SF — the test isn't vacuous
    assert(pairs.nonEmpty && result.exists { case (v, s) => v != s })
  }
}
