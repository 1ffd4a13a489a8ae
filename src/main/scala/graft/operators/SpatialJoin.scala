package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 3-D ε-distance spatial join — the reference's only join
  * ("find_contact_residues" KD-tree NeighborSearch, reference
  * process_af3_outputs.py:226–251).
  *
  * Scale story (SURVEY §2.3): a theta-join `dist(a,b) <= eps` would plan as
  * a nested-loop join. We instead bucket points into a grid of cell size
  * `eps`: the left side keeps its home cell, the right side is exploded to
  * its 3×3×3 = 27 neighbour cells, and the join becomes an equi-join on
  * `(partCols…, cx, cy, cz)` — a shuffle hash join that partitions evenly
  * at any scale — followed by the exact squared-distance filter. Every
  * qualifying pair is produced exactly once (the left point's home cell
  * appears exactly once among the right point's 27 neighbours).
  *
  * Input frames must carry `x, y, z` (double) columns; all other columns
  * are preserved with the given prefixes.
  */
object SpatialJoin {

  /** Grid cell size for an ε bound: ε widened by a relative margin a few
    * orders above double rounding error. The no-miss argument ("|dx| <=
    * ε implies home cells differ by <= 1") holds in exact arithmetic;
    * computed quotients carry ulp-level error, so an adversarial pair
    * with |dx| within an ulp of ε could otherwise straddle two cell
    * boundaries and silently vanish from the join. The margin makes the
    * cell strictly larger than any distance the residual predicate can
    * accept, restoring the invariant for computed arithmetic (shared by
    * [[epsJoin]] and [[graft.plans.EpsJoinRewrite]] so the two grid
    * constructions cannot drift).
    */
  def cellSize(eps: Double): Double = eps * (1.0 + 1e-9)

  /** One grid-cell coordinate: `floor(c / cellSize)` as a long. Spark's
    * `floor(double)` is already LongType (NaN folds to 0, never throws —
    * NaN/Inf points then fail the exact residual predicate and drop, the
    * same outcome as the theta join).
    */
  def cellCol(c: Column, cellSize: Double): Column =
    floor(c / lit(cellSize)).cast("long")

  private def prefixed(df: DataFrame, partCols: Seq[String], p: String): DataFrame =
    df.columns.filterNot(partCols.contains)
      .foldLeft(df) { (d, c) => d.withColumnRenamed(c, p + c) }

  /** Adds grid-cell coordinates for the point (px, py, pz) columns. */
  private def withCell(df: DataFrame, p: String, eps: Double): DataFrame = {
    val cs = cellSize(eps)
    df.withColumn("__cx", cellCol(col(p + "x"), cs))
      .withColumn("__cy", cellCol(col(p + "y"), cs))
      .withColumn("__cz", cellCol(col(p + "z"), cs))
  }

  private def explodeNeighbors(df: DataFrame): DataFrame =
    df.withColumn("__dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("__dy", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("__dz", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("__cx", col("__cx") + col("__dx"))
      .withColumn("__cy", col("__cy") + col("__dy"))
      .withColumn("__cz", col("__cz") + col("__dz"))
      .drop("__dx", "__dy", "__dz")

  /** ε-join of `left` against `right` within each `partCols` group.
    * Output: partCols, prefixed left columns, prefixed right columns, and
    * `dist_sq` (exact squared Euclidean distance, <= eps²).
    */
  def epsJoin(
      left: DataFrame,
      right: DataFrame,
      eps: Double,
      partCols: Seq[String] = Nil,
      leftPrefix: String = "l_",
      rightPrefix: String = "r_"): DataFrame = {
    val l = withCell(prefixed(left, partCols, leftPrefix), leftPrefix, eps)
    val r = explodeNeighbors(
      withCell(prefixed(right, partCols, rightPrefix), rightPrefix, eps))
    val joinKeys = partCols ++ Seq("__cx", "__cy", "__cz")
    val dx = col(leftPrefix + "x") - col(rightPrefix + "x")
    val dy = col(leftPrefix + "y") - col(rightPrefix + "y")
    val dz = col(leftPrefix + "z") - col(rightPrefix + "z")
    l.join(r, joinKeys, "inner")
      .withColumn("dist_sq", dx * dx + dy * dy + dz * dz)
      .filter(col("dist_sq") <= lit(eps * eps))
      .drop("__cx", "__cy", "__cz")
  }

  /** In-memory form of [[epsJoin]] for the points of one group held by
    * one task (one AF3 job's atoms): the same `cellSize(eps)` grid, the
    * same 27-cell probe and the same exact `dx*dx + dy*dy + dz*dz <= eps²`
    * test, with `dx = left - right` as in [[epsJoin]]. Points are packed
    * `x, y, z` triples; `emit(l, r)` gets each qualifying pair of point
    * indices exactly once.
    */
  def localPairs(left: Array[Double], right: Array[Double], eps: Double)(
      emit: (Int, Int) => Unit): Unit = {
    val cs = cellSize(eps)
    val eps2 = eps * eps
    def cell(c: Double): Long = math.floor(c / cs).toLong
    val grid = scala.collection.mutable.HashMap.empty[(Long, Long, Long),
      scala.collection.mutable.ArrayBuffer[Int]]
    for (r <- 0 until right.length / 3)
      grid.getOrElseUpdate((cell(right(3 * r)), cell(right(3 * r + 1)), cell(right(3 * r + 2))),
        scala.collection.mutable.ArrayBuffer.empty[Int]) += r
    for (l <- 0 until left.length / 3) {
      val (x, y, z) = (left(3 * l), left(3 * l + 1), left(3 * l + 2))
      val (cx, cy, cz) = (cell(x), cell(y), cell(z))
      for (ox <- -1 to 1; oy <- -1 to 1; oz <- -1 to 1)
        grid.get((cx + ox, cy + oy, cz + oz)).foreach(_.foreach { r =>
          val dx = x - right(3 * r)
          val dy = y - right(3 * r + 1)
          val dz = z - right(3 * r + 2)
          if (dx * dx + dy * dy + dz * dz <= eps2) emit(l, r)
        })
    }
  }

  /** Self ε-join producing each unordered pair once (idCol asymmetry). */
  def selfEpsJoin(points: DataFrame, idCol: String, eps: Double,
      partCols: Seq[String] = Nil): DataFrame =
    epsJoin(points, points, eps, partCols, "a_", "b_")
      .filter(col("a_" + idCol) < col("b_" + idCol))
}
