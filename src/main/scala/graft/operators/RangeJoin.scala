package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 1-D interval-containment join (point-in-range) — the time-axis
  * analogue of [[SpatialJoin]]'s grid cells.
  *
  * A raw `p >= lo AND p < hi` predicate (with or without extra equi
  * keys) plans as a nested-loop / broadcast-nested-loop join. Instead,
  * both sides bucket the value axis at `bucketWidth`: a point keeps its
  * home bucket, an interval explodes to every bucket it overlaps, and
  * the join becomes an equi-join on `(keys…, bucket)` followed by the
  * exact containment filter. Each qualifying (point, interval) pair is
  * produced exactly once — the point's home bucket occurs exactly once
  * among the interval's buckets.
  *
  * Interval fan-out is `floor(hi/w) - floor(lo/w) + 1` rows, so pick
  * `bucketWidth` near the typical interval length (fan-out ~2). Skewed
  * giant intervals fan out proportionally — cap them upstream or raise
  * the width. All bucket arithmetic is floor-of-double on magnitudes
  * < 2^52 (exact), so oracles reproduce membership bit-for-bit.
  */
object RangeJoin {

  /** The bucket of `c` at width `w`, as the bucketed joins here and
    * [[graft.plans.RangeJoinRewrite]]'s key both sides.
    */
  private[graft] def bucketOf(c: Column, w: Double): Column =
    floor(c.cast("double") / w).cast("long")

  /** Join `points` (a `pointCol` value per row) to `intervals`
    * (`[loCol, hiCol)` per row) on `keys` equality + containment.
    * All columns of both inputs are preserved; `points` columns keep
    * their names, interval columns clashing with point columns get an
    * `i_` prefix.
    */
  def rangeJoin(
      points: DataFrame,
      pointCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      keys: Seq[String],
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val w = bucketWidth.toDouble
    val clash = intervals.columns.toSet
      .intersect(points.columns.toSet) -- keys
    val iv0 = clash.foldLeft(intervals)((d, c) => d.withColumnRenamed(c, "i_" + c))
    def iCol(name: String) = col(if (clash(name)) "i_" + name else name)
    val p = points.withColumn("__bkt", bucketOf(col(pointCol), w))
    // a malformed hi < lo interval can never contain a point, but its
    // DESCENDING bucket sequence would still explode (Spark auto-steps
    // -1) into spurious candidates — drop empty intervals pre-fan-out
    val iv = iv0.filter(iCol(loCol) <= iCol(hiCol)).withColumn("__bkt",
      explode(sequence(bucketOf(iCol(loCol), w),
        bucketOf(iCol(hiCol), w))))
    p.join(iv, keys :+ "__bkt")
      .filter(col(pointCol) >= iCol(loCol) && col(pointCol) < iCol(hiCol))
      .drop("__bkt")
  }

  /** Interval-INTERVAL overlap join: all (left, right) pairs of closed
    * intervals `[lo, hi]` that intersect (and agree on `keys`). Both
    * sides explode to their covered buckets and meet in an equi-join on
    * `(keys…, bucket)`; a pair of overlapping intervals shares every
    * bucket of its intersection, so exactly-once output comes from
    * keeping only the FIRST shared bucket — the one containing
    * `max(left.lo, right.lo)`, where the intersection starts. No
    * `distinct` (which would shuffle the full candidate set) needed.
    * Right-side columns clashing with left names get an `r_` prefix.
    */
  def intervalOverlap(
      left: DataFrame,
      lLoCol: String,
      lHiCol: String,
      right: DataFrame,
      rLoCol: String,
      rHiCol: String,
      keys: Seq[String],
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val w = bucketWidth.toDouble
    val clash = right.columns.toSet.intersect(left.columns.toSet) -- keys
    val r0 = clash.foldLeft(right)((d, c) => d.withColumnRenamed(c, "r_" + c))
    def rCol(name: String) = col(if (clash(name)) "r_" + name else name)
    val l = left.filter(col(lLoCol) <= col(lHiCol)).withColumn("__bkt",
      explode(sequence(bucketOf(col(lLoCol), w),
        bucketOf(col(lHiCol), w))))
    val r = r0.filter(rCol(rLoCol) <= rCol(rHiCol)).withColumn("__bkt",
      explode(sequence(bucketOf(rCol(rLoCol), w),
        bucketOf(rCol(rHiCol), w))))
    l.join(r, keys :+ "__bkt")
      .filter(col(lLoCol) <= rCol(rHiCol) && rCol(rLoCol) <= col(lHiCol))
      .filter(col("__bkt") ===
        bucketOf(greatest(col(lLoCol), rCol(rLoCol)), w))
      .drop("__bkt")
  }
}
