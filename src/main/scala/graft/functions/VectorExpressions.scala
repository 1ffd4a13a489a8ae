package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{ColumnBridge, DotProductExpr, GraftDist3Expr, LongDotProductExpr, PolyHashExpr, SortedIntersectSizeExpr, ZOrder2Expr}

/** Column-level entry points for the native vector expressions
  * (implemented in org.apache.spark.sql.graft — they need the
  * `private[sql]` AbstractDataType for ExpectsInputTypes).
  */
object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(LongDotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def polyHash(s: Column): Column =
    ColumnBridge.column(PolyHashExpr(ColumnBridge.expression(s)))

  def zorder2(x: Column, y: Column): Column =
    ColumnBridge.column(ZOrder2Expr(ColumnBridge.expression(x), ColumnBridge.expression(y)))

  /** |a ∩ b| of two ascending duplicate-free long arrays — zero-alloc
    * merge walk (see SortedIntersectSizeExpr for the caller contract).
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectSizeExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** ε-join-recognizable 3-D Euclidean distance: use in a join condition
    * as `dist3(...) < eps` and EpsJoinRewrite plans the grid-cell
    * equi-join automatically.
    */
  def dist3(ax: Column, ay: Column, az: Column,
      bx: Column, by: Column, bz: Column): Column =
    ColumnBridge.column(GraftDist3Expr(
      Seq(ax, ay, az, bx, by, bz).map(ColumnBridge.expression)))
}
