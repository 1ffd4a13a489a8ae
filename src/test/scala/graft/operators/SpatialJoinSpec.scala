package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

object SpatialJoinSpec {

  /** Brute-force ε-join (cross + filter), the reference the grid join is
    * property-tested against; the output columns match
    * [[SpatialJoin.epsJoin]]'s (`partCols` kept, every other column
    * prefixed) plus `dist_sq`.
    */
  def epsJoinBrute(
      left: DataFrame,
      right: DataFrame,
      eps: Double,
      partCols: Seq[String] = Nil,
      leftPrefix: String = "l_",
      rightPrefix: String = "r_"): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.filterNot(partCols.contains)
        .foldLeft(df) { (d, c) => d.withColumnRenamed(c, p + c) }
    val l = prefixed(left, leftPrefix)
    val r = prefixed(right, rightPrefix)
    val dx = col(leftPrefix + "x") - col(rightPrefix + "x")
    val dy = col(leftPrefix + "y") - col(rightPrefix + "y")
    val dz = col(leftPrefix + "z") - col(rightPrefix + "z")
    val joined = if (partCols.nonEmpty) l.join(r, partCols) else l.crossJoin(r)
    joined
      .withColumn("dist_sq", dx * dx + dy * dy + dz * dz)
      .filter(col("dist_sq") <= lit(eps * eps))
  }
}

class SpatialJoinSpec extends SparkSpec {
  import SpatialJoinSpec.epsJoinBrute
  import spark.implicits._

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("property: grid eps-join == brute-force eps-join (seeded)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 12) {
      val n = rnd.nextInt(40)
      val pts = Seq.fill(n)((rnd.between(-10.0, 10.0), rnd.between(-10.0, 10.0), rnd.between(-10.0, 10.0)))
      val eps = Seq(0.5, 1.0, 3.0)(trial % 3)
      val df = pts.zipWithIndex
        .map { case ((x, y, z), i) => (i.toLong, x, y, z) }
        .toDF("id", "x", "y", "z")
      val grid = pairs(SpatialJoin.epsJoin(df, df, eps))
      val brute = pairs(epsJoinBrute(df, df, eps))
      assert(grid === brute, s"trial=$trial eps=$eps n=$n")
    }
  }

  test("boundary: pair at exactly eps distance is included") {
    val df = Seq((1L, 0.0, 0.0, 0.0), (2L, 2.0, 0.0, 0.0)).toDF("id", "x", "y", "z")
    val got = pairs(SpatialJoin.epsJoin(df, df, 2.0))
    assert(got.contains((1L, 2L)) && got.contains((2L, 1L)))
  }

  test("partition columns keep groups apart") {
    val df = Seq(("a", 1L, 0.0, 0.0, 0.0), ("b", 2L, 0.0, 0.0, 0.0))
      .toDF("grp", "id", "x", "y", "z")
    val joined = SpatialJoin.epsJoin(df, df, 1.0, Seq("grp"))
    assert(joined.count() === 2) // only self-pairs within each group
  }

  test("negative coordinates bucket correctly (floor, not truncate)") {
    val df = Seq((1L, -0.1, 0.0, 0.0), (2L, 0.1, 0.0, 0.0)).toDF("id", "x", "y", "z")
    assert(pairs(SpatialJoin.epsJoin(df, df, 0.5)).contains((1L, 2L)))
  }
}
