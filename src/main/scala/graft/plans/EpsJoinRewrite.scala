package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}
import org.apache.spark.sql.graft.{ColumnBridge, GraftDist3Expr}
import org.apache.spark.sql.types.Decimal

/** Automatic ε-join recognition (SURVEY §7 item 4, the deferred piece of
  * the spatial-join story): an inner join whose condition bounds
  * `graft_dist3(ax,ay,az,bx,by,bz)` by a positive constant is rewritten
  * from the nested-loop theta-join Spark would otherwise plan into the
  * grid-cell equi-join (SpatialJoin's shape): each side bucketed into
  * ε-sized cells, the right side exploded to its 27 neighbor cells, the
  * join keyed on the cell triple, and the ORIGINAL distance predicate
  * re-applied as the residual — re-expressed in raw arithmetic
  * (`sqrt(dx*dx + dy*dy + dz*dz)`, the exact IEEE sequence GraftDist3Expr
  * evaluates), so the rewrite is bit-exact AND cannot re-match itself.
  *
  * Every qualifying pair survives the cell equi-join: the bound implies
  * |ax-bx| <= ε per axis, so the home cells differ by at most 1 in each
  * dimension, and the left point's home cell appears exactly once among
  * the right point's 27 neighbors — no duplicates, no misses.
  *
  * Cells are sized `SpatialJoin.cellSize(eps)` (ε plus a relative margin
  * far above double rounding error) so the containment argument holds
  * for computed arithmetic too, not just exact reals — without it an
  * adversarial pair with |dx| within an ulp of ε could straddle two cell
  * boundaries and silently vanish. A hinted join is rewritten too, and
  * its hint re-applied to the cell join.
  */
class EpsJoinRewrite(session: SparkSession)
    extends JoinRewrite(session, "spark.graft.epsJoinRewrite.enabled") {
  import EpsJoinRewrite._

  private def litDouble(e: Expression): Option[Double] = literal(e) {
    case n @ (_: java.lang.Double | _: java.lang.Float | _: java.lang.Integer |
        _: java.lang.Long | _: java.math.BigDecimal) => n.asInstanceOf[Number].doubleValue()
    case d: Decimal => d.toDouble
  }

  /** If `conj` bounds a graft_dist3 above by a positive constant, return
    * (left-side coords, right-side coords, eps) oriented to the join's
    * children.
    */
  private def matchEps(conj: Expression, join: Join)
      : Option[(Seq[Expression], Seq[Expression], Double)] = {
    val bound = conj match {
      case LessThan(d: GraftDist3Expr, e) => litDouble(e).map((d, _))
      case LessThanOrEqual(d: GraftDist3Expr, e) => litDouble(e).map((d, _))
      case GreaterThan(e, d: GraftDist3Expr) => litDouble(e).map((d, _))
      case GreaterThanOrEqual(e, d: GraftDist3Expr) => litDouble(e).map((d, _))
      case _ => None
    }
    bound.filter(_._2 > 0).flatMap { case (d, eps) =>
      val (a, b) = d.children.splitAt(3)
      if (a.forall(_.references.isEmpty) || b.forall(_.references.isEmpty)) None
      else orient(a, b, join).map(aIsLeft => if (aIsLeft) (a, b, eps) else (b, a, eps))
    }
  }

  /** The exact arithmetic GraftDist3Expr evaluates, as a raw expression
    * tree (same left-associative IEEE sequence — bit-identical result).
    */
  private def rawDist(cs: Seq[Expression]): Expression = {
    def c(e: Expression) = ColumnBridge.column(e)
    val dx = c(cs(0)) - c(cs(3))
    val dy = c(cs(1)) - c(cs(4))
    val dz = c(cs(2)) - c(cs(5))
    ColumnBridge.expression(
      org.apache.spark.sql.functions.sqrt(dx * dx + dy * dy + dz * dz))
  }

  override protected def rewrite(join: Join, conjuncts: Seq[Expression]): Option[LogicalPlan] =
    conjuncts.iterator.flatMap(matchEps(_, join)).nextOption().map { case (aC, bC, eps) =>
      val cs = graft.operators.SpatialJoin.cellSize(eps)
      def cell(e: Expression) =
        graft.operators.SpatialJoin.cellCol(ColumnBridge.column(e), cs)

      val lC = CellCols.zip(aC).foldLeft(frame(join.left)) { case (df, (n, e)) =>
        df.withColumn(n, cell(e))
      }
      val rExp = DeltaCols.foldLeft(frame(join.right)) { (df, n) =>
        df.withColumn(n, explode(sequence(lit(-1L), lit(1L))))
      }
      val rC = NbrCols.zip(bC).zip(DeltaCols).foldLeft(rExp) {
        case (df, ((n, e), dn)) => df.withColumn(n, cell(e) + col(dn))
      }
      val cellEq = CellCols.zip(NbrCols)
        .map { case (cn, nn) => lC(cn) === rC(nn) }
        .reduce(_ && _)
      // the full original condition rides along as the residual, with
      // every graft_dist3 re-expressed in raw arithmetic (bit-identical,
      // and no longer a match for this rule)
      val residual = conjuncts
        .map(_.transform { case d: GraftDist3Expr => rawDist(d.children) })
        .reduce[Expression](And)
      val out = lC.join(rC, cellEq, "inner")
        .filter(ColumnBridge.column(residual))
        .select(join.output.map(ColumnBridge.column): _*)
      onTopJoin(out.queryExecution.analyzed)(_.copy(hint = join.hint))
    }
}

object EpsJoinRewrite {
  private[plans] val CellCols = Seq("__graft_cx", "__graft_cy", "__graft_cz")
  private[plans] val NbrCols = Seq("__graft_nx", "__graft_ny", "__graft_nz")
  private[plans] val DeltaCols = Seq("__graft_dx", "__graft_dy", "__graft_dz")
}
