package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.functions.{col, explode, greatest, isnan, lit, sequence}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, FloatType, NumericType}

import graft.operators.RangeJoin.bucketOf

/** Automatic 1-D range-join recognition — the time-axis sibling of
  * [[EpsJoinRewrite]]. Two patterns are recognized on inner joins:
  *
  *  - '''point-in-interval''': the condition contains BOTH `p >= lo`
  *    (or `>`) AND `p <= hi` (or `<`) for the SAME point expression `p`
  *    from one side and interval bounds `lo`, `hi` from the other.
  *  - '''interval overlap''': the condition contains `aLo <= bHi` AND
  *    `bLo <= aHi` (any `<`/`<=` mix) with `aLo`,`aHi` from one side and
  *    `bLo`,`bHi` from the other — the canonical "intervals intersect"
  *    conjunct pair.
  *
  * Either would plan as a nested-loop theta-join; both are rewritten to
  * [[graft.operators.RangeJoin]]'s bucketed equi-join: each side buckets
  * the value axis at the configured width (a point keeps its home
  * bucket; an interval explodes to every bucket it overlaps), the join
  * keys on the bucket (plus any cross-side equality conjuncts, which
  * stay real join keys), and the ORIGINAL condition is re-applied above
  * as the exact residual — so the rewrite is bit-exact.
  *
  * Exactly-once, point case: `lo <= p <= hi` implies
  * `floor(lo/w) <= floor(p/w) <= floor(hi/w)` (division by a positive
  * constant is monotone even in IEEE arithmetic, floor preserves it), so
  * the point's single home bucket appears exactly once among the
  * interval's buckets. Overlap case: two valid intersecting intervals
  * share every bucket of `[max(aLo,bLo), min(aHi,bHi)]`; keeping only
  * the FIRST shared bucket — the one containing `max(aLo,bLo)` — emits
  * each pair exactly once with no `distinct` (which would shuffle the
  * full candidate set).
  *
  * '''Fan-out guard''' (`spark.graft.rangeJoinRewrite.maxFanout`,
  * default 4096): an interval spanning `(hi-lo)/width` buckets explodes
  * to that many rows, and past 2^31 buckets `sequence()` throws at
  * runtime — a data property no rewrite-time check can see. Rows whose
  * fan-out would exceed the cap (and, in the overlap case, malformed
  * `lo > hi` intervals, which the theta join CAN match but the bucket
  * argument assumes away) are split into a union'd fallback branch that
  * joins them with the ORIGINAL condition — normally empty, so its
  * nested-loop is a no-op scan, but pathological data degrades to the
  * pre-rewrite plan for exactly the offending rows instead of OOM-ing.
  * Each qualifying pair lands in exactly one branch (the split is a
  * partition of the input rows), so the union stays bit-exact. Rows
  * with a NULL bound are dropped outright: every recognized conjunct
  * null-rejects, so they can match nothing. The fallback costs one
  * extra scan of each input when it IS empty (map-side only; the
  * shuffle exchanges feeding both branches are reused) — the price of
  * not failing at 100 TB on data the optimizer never saw.
  *
  * The bucket width cannot be inferred from a literal (it is a data
  * property — the typical interval length), so it comes from the session
  * conf `spark.graft.rangeJoinRewrite.bucket` — the same contract as the
  * bin-size hint production range-join optimizers require. Unset or
  * non-positive ⇒ the rule stays inactive (the default: a session-wide
  * bin is only meaningful on a known axis, so queries opt in by scoping
  * the conf around plan construction — see `join_range_auto`).
  *
  * Self-termination: filter-pushdown can fold the residual back into the
  * rewritten join's condition on a later optimizer pass; the rule skips
  * any join whose condition references a `__graft_rb`-prefixed attribute
  * — the bucket keys of the equi branch and the [[GuardMarker]] columns
  * of the fallback branches (non-foldable by construction, so constant
  * propagation cannot erase them). Joins carrying an explicit user hint
  * are left untouched — a hint is the user picking the strategy.
  */
class RangeJoinRewrite(session: SparkSession)
    extends JoinRewrite(session, "spark.graft.rangeJoinRewrite.enabled") {
  import RangeJoinRewrite._

  /** Lower/upper bounds keyed by the canonicalized point expression:
    * `p >= lo` forms, oriented so the point is on the left.
    */
  private def asLower(c: Expression): Option[(Expression, Expression)] = c match {
    case GreaterThanOrEqual(p, lo) => Some((p, lo))
    case GreaterThan(p, lo) => Some((p, lo))
    case LessThanOrEqual(lo, p) => Some((p, lo))
    case LessThan(lo, p) => Some((p, lo))
    case _ => None
  }

  private def asUpper(c: Expression): Option[(Expression, Expression)] = c match {
    case LessThanOrEqual(p, hi) => Some((p, hi))
    case LessThan(p, hi) => Some((p, hi))
    case GreaterThanOrEqual(hi, p) => Some((p, hi))
    case GreaterThan(hi, p) => Some((p, hi))
    case _ => None
  }

  /** `x <= y` / `x < y` oriented as (smaller, larger, isStrict). */
  private def asLE(c: Expression): Option[(Expression, Expression, Boolean)] = c match {
    case LessThanOrEqual(x, y) => Some((x, y, false))
    case LessThan(x, y) => Some((x, y, true))
    case GreaterThanOrEqual(y, x) => Some((x, y, false))
    case GreaterThan(y, x) => Some((x, y, true))
    case _ => None
  }

  private def numeric(es: Expression*): Boolean =
    es.forall(_.dataType.isInstanceOf[NumericType])

  /** Find (point, lo, hi) with point refs in one child and BOTH bound
    * expressions' refs nonempty and in the other child, orientation
    * returned as pointIsLeft.
    */
  private def matchRange(cs: Seq[Expression], join: Join)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    val lowers = cs.flatMap(asLower)
    val uppers = cs.flatMap(asUpper)
    val pairs = for {
      (p1, lo) <- lowers
      (p2, hi) <- uppers
      if p1.canonicalized == p2.canonicalized
    } yield (p1, lo, hi)
    pairs.iterator.flatMap { case (p, lo, hi) =>
      if (!numeric(p, lo, hi) || Seq(p, lo, hi).exists(_.references.isEmpty)) None
      else orient(Seq(p), Seq(lo, hi), join).map((p, lo, hi, _))
    }.nextOption()
  }

  /** Find the overlap conjunct pair: `aLo <= bHi` and `bLo <= aHi` with
    * the `a` bounds' refs in the left child and the `b` bounds' in the
    * right. Returns (aLo, aHi, bLo, bHi). When several cross-side `<`/
    * `<=` conjuncts exist (e.g. a `a.id < b.id` self-join dedup next to
    * the real bound pair), prefer the pairing with the most NON-STRICT
    * comparisons: canonical interval-overlap predicates are `<=` on
    * both sides, while key-ordering tricks are canonically strict. A
    * wrong pick stays bit-exact (the residual re-applies everything) —
    * the fan-out guard just routes the mismatched axis to the fallback
    * — but the right pick is what makes the rewrite pay.
    */
  private def matchOverlap(cs: Seq[Expression], join: Join)
      : Option[(Expression, Expression, Expression, Expression)] = {
    val les = cs.flatMap(asLE).filter { case (x, y, _) =>
      x.references.nonEmpty && y.references.nonEmpty && numeric(x, y)
    }
    def from(left: Boolean) =
      les.filter { case (x, y, _) => orient(Seq(x), Seq(y), join).contains(left) }
    val candidates = for {
      (aLo, bHi, s1) <- from(left = true)
      (bLo, aHi, s2) <- from(left = false)
    } yield ((aLo, aHi, bLo, bHi), Seq(s1, s2).count(!_))
    candidates.sortBy(-_._2).headOption.map(_._1)
  }

  private def bkt(e: Expression, w: Double) = bucketOf(ColumnBridge.column(e), w)

  /** Every bucket of `[lo, hi]`, one row each. */
  private def buckets(lo: Expression, hi: Expression, w: Double) =
    explode(sequence(bkt(lo, w), bkt(hi, w)))

  /** NaN bound detection on float/double axes (`lit(false)` elsewhere —
    * no per-row cost on the common integer epoch axes). Under Spark's
    * NaN-largest ordering `lo <= hi` is TRUE when `hi` is NaN, and
    * `cast(floor(NaN / w) as long)` buckets to 0 — so a theta-matchable
    * row (b = [5, NaN] overlaps a = [1e9, 1e9+10]) would land in the
    * bucketed branch with a WRONG bucket and silently lose its matches.
    * NaN-bounded rows are routed to the fallback theta branch instead,
    * which evaluates the original condition bit-exactly. `isnan(NULL)`
    * is false, so NULL bounds keep their drop-outright treatment.
    */
  private def nanBound(e: Expression): Column = e.dataType match {
    case FloatType | DoubleType => isnan(ColumnBridge.column(e))
    case _ => lit(false)
  }

  /** The (good, bad) split of an interval side's rows. Good rows are
    * bucketable: no NaN bound, `lo <= hi` and fewer than `cap` buckets.
    * Bad rows take the fallback theta join: NaN-bounded (wrong bucket
    * under NaN-largest ordering), too wide to explode and, when
    * `malformedMatch` (the overlap case: the theta join CAN match a
    * `hi < lo` "interval", e.g. a=[10,5] against b=[0,20]), malformed. A
    * malformed interval never contains a point, and Spark's descending
    * auto-step sequence would explode it, so the point case drops it
    * outright. NULL bounds fall in neither branch: they null-reject the
    * original conjuncts, so they can match nothing.
    */
  private def split(lo: Expression, hi: Expression, w: Double, cap: Long,
      malformedMatch: Boolean): (Column, Column) = {
    val span = bkt(hi, w) - bkt(lo, w)
    val valid = ColumnBridge.column(lo) <= ColumnBridge.column(hi)
    val nan = nanBound(lo) || nanBound(hi)
    val skipped = if (malformedMatch) nan || ColumnBridge.column(lo) > ColumnBridge.column(hi)
      else nan
    (!nan && valid && span < lit(cap), skipped || (valid && span >= lit(cap)))
  }

  /** The branch-split guards go through PushdownBarrier: they must stay
    * ABOVE the interval child so (a) the union branches share the
    * child's exchange (ReuseExchange — unpinned, join_range_auto
    * computed its sessionize twice) and (b) the good/bad partition is
    * decided on the child's OUTPUT rows, not pushed through a merging
    * aggregation onto pre-merge values.
    */
  private def pin(df: DataFrame, c: Column): DataFrame =
    df.filter(ColumnBridge.column(PushdownBarrier(ColumnBridge.expression(c))))

  /** Marker columns + always-true cross-side conjunct that (a) tags the
    * fallback join so later optimizer passes skip it and (b) cannot be
    * constant-folded away (GuardMarker is non-foldable). The Or
    * references both sides, so predicate pushdown keeps it in the join
    * condition rather than pushing it below one child.
    *
    * `badIsLeft` names the side holding the guard-rejected rows; that
    * side gets an explicit BROADCAST hint. Why (r12, sf10 probe):
    * without it Spark broadcast the FULL other side — for
    * join_overlap_auto that meant sorting and broadcasting the whole
    * sessionize result once per fallback branch (sf10: 120 s vs 27 s for
    * the explicit operator). With the (normally EMPTY) bad side as the
    * build, the branch costs its build only, and AQE's empty-relation
    * propagation prunes the full side's subtree entirely once the 0-row
    * broadcast materializes. Pathological data now broadcasts its
    * outlier rows — bounded by how many ≥maxFanout-bucket intervals
    * exist, the regime the fallback was built for. A lost hint logs
    * ([[onTopJoin]]), and PlanShapeSpec's build-side test pins the
    * planned outcome.
    */
  private def fallbackJoin(l: DataFrame, r: DataFrame, residual: Expression,
      badIsLeft: Boolean): DataFrame = {
    val joined = l.withColumn(MarkerL, ColumnBridge.column(GuardMarker()))
      .join(r.withColumn(MarkerR, ColumnBridge.column(GuardMarker())),
        ColumnBridge.column(residual) && (col(MarkerL) || col(MarkerR)),
        "inner")
    val hi = Some(HintInfo(strategy = Some(BROADCAST)))
    frame(onTopJoin(joined.queryExecution.analyzed)(_.copy(hint =
      if (badIsLeft) JoinHint(hi, None) else JoinHint(None, hi))))
  }

  /** The rewritten plan: `l` and `r`, carrying the bucket columns
    * PointBucket and IntervalBucket, joined on the bucket with the
    * original condition (and `keep`) above as the exact residual, union
    * the fallback joins of each `(left rows, right rows, badIsLeft)`.
    */
  private def bucketJoin(join: Join, cs: Seq[Expression], l: DataFrame, r: DataFrame,
      keep: Option[Column], fallbacks: Seq[(DataFrame, DataFrame, Boolean)]): LogicalPlan = {
    // cross-side equality conjuncts (the join's real keys — user_id,
    // tenant, …) must STAY in the join condition next to the bucket, or
    // the equi-join degrades to bucket-only and every key shares every
    // time bucket; the frame surgery preserves attribute ids, so the
    // original expressions resolve against the rebuilt children
    val equi = cs.filter {
      case EqualTo(a, b) => orient(Seq(a), Seq(b), join).nonEmpty
      case _ => false
    }
    val joinCond = equi.foldLeft(col(PointBucket) === col(IntervalBucket)) {
      (c, e) => c && ColumnBridge.column(e)
    }
    val residual = cs.reduce[Expression](And)
    val outCols = join.output.map(ColumnBridge.column)
    val main = l.join(r, joinCond, "inner")
      .filter(keep.foldLeft(ColumnBridge.column(residual))(_ && _))
      .select(outCols: _*)
    fallbacks.foldLeft(main) { case (u, (fl, fr, badIsLeft)) =>
      u.union(fallbackJoin(fl, fr, residual, badIsLeft).select(outCols: _*))
    }.queryExecution.analyzed
  }

  private def rewritePoint(join: Join, cs: Seq[Expression], p: Expression, lo: Expression,
      hi: Expression, pointIsLeft: Boolean, w: Double, cap: Long): LogicalPlan = {
    val (pDf, iDf) =
      if (pointIsLeft) (frame(join.left), frame(join.right))
      else (frame(join.right), frame(join.left))
    val (good, wide) = split(lo, hi, w, cap, malformedMatch = false)
    val pC = pDf.withColumn(PointBucket, bkt(p, w))
    val iC = pin(iDf, good).withColumn(IntervalBucket, buckets(lo, hi, w))
    // fan-out guard: intervals wider than the cap — or carrying a NaN
    // bound, whose bucket would be wrong — take the original theta join
    // (marker-tagged); normally zero rows
    if (pointIsLeft) bucketJoin(join, cs, pC, iC, None, Seq((pDf, pin(iDf, wide), false)))
    else bucketJoin(join, cs, iC, pC, None, Seq((pin(iDf, wide), pDf, true)))
  }

  private def rewriteOverlap(join: Join, cs: Seq[Expression], aLo: Expression,
      aHi: Expression, bLo: Expression, bHi: Expression, w: Double, cap: Long): LogicalPlan = {
    val (aDf, bDf) = (frame(join.left), frame(join.right))
    val (goodA, badA) = split(aLo, aHi, w, cap, malformedMatch = true)
    val (goodB, badB) = split(bLo, bHi, w, cap, malformedMatch = true)
    val aC = pin(aDf, goodA).withColumn(PointBucket, buckets(aLo, aHi, w))
    val bC = pin(bDf, goodB).withColumn(IntervalBucket, buckets(bLo, bHi, w))
    // exactly-once: keep only the first shared bucket — the one holding
    // the intersection start max(aLo, bLo)
    val firstShared = col(PointBucket) === bucketOf(greatest(
      ColumnBridge.column(aLo).cast("double"), ColumnBridge.column(bLo).cast("double")), w)
    // partition of pairs: (good,good) → main; (bad,*) → first fallback;
    // (good,bad) → second — each qualifying pair in exactly one branch
    bucketJoin(join, cs, aC, bC, Some(firstShared),
      Seq((pin(aDf, badA), bDf, true), (pin(aDf, goodA), pin(bDf, badB), false)))
  }

  /** The bin size, from conf; None ⇒ inactive. */
  private def bucketWidth: Option[Double] =
    scala.util.Try(SQLConf.get.getConfString("spark.graft.rangeJoinRewrite.bucket", "")
      .toDouble).toOption.filter(_ > 0)

  /** Max exploded rows per interval before the fallback branch takes
    * over (guards both OOM fan-out and sequence()'s 2^31 limit).
    */
  private def maxFanout: Long =
    scala.util.Try(SQLConf.get.getConfString("spark.graft.rangeJoinRewrite.maxFanout", "4096")
      .toLong).toOption.filter(_ > 0).getOrElse(4096L)

  override protected def enabled: Boolean = super.enabled && bucketWidth.nonEmpty

  /** Hinted joins (the user picked the strategy) and the rule's own
    * joins, whose conditions reference a `__graft_rb` attribute.
    */
  override protected def skips(join: Join): Boolean =
    join.hint != JoinHint.NONE ||
      join.condition.exists(_.references.exists(_.name.startsWith(BucketPrefix)))

  override protected def rewrite(join: Join, cs: Seq[Expression]): Option[LogicalPlan] =
    bucketWidth.flatMap { w =>
      val cap = maxFanout
      matchRange(cs, join).map { case (p, lo, hi, pointIsLeft) =>
        rewritePoint(join, cs, p, lo, hi, pointIsLeft, w, cap)
      }.orElse(matchOverlap(cs, join).map { case (aLo, aHi, bLo, bHi) =>
        rewriteOverlap(join, cs, aLo, aHi, bLo, bHi, w, cap)
      })
    }
}

object RangeJoinRewrite {
  /** Shared prefix of every attribute the rewrite introduces — the
    * self-termination skip checks it.
    */
  private[plans] val BucketPrefix = "__graft_rb"
  private[plans] val PointBucket = "__graft_rb_p"
  private[plans] val IntervalBucket = "__graft_rb_i"
  private[plans] val MarkerL = "__graft_rb_ml"
  private[plans] val MarkerR = "__graft_rb_mr"
}

/** Always-true boolean that the optimizer cannot constant-fold
  * (`foldable = false` by construction): tags [[RangeJoinRewrite]]'s
  * fallback joins so the rule's skip check survives FoldablePropagation
  * / BooleanSimplification. Evaluated only on the (normally empty)
  * outlier branches, so CodegenFallback costs nothing.
  */
case class GuardMarker() extends LeafExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = true
  override def prettyName: String = "graft_guard_marker"
}

/** Identity wrapper declared NON-deterministic so PushDownPredicates
  * pins the branch-split guard filters exactly where [[RangeJoinRewrite]]
  * put them — directly above the interval child (r12). Unpinned, the
  * deterministic guard predicates were pushed through the child: the two
  * union branches' subtrees then differ below the child's exchange, so
  * ReuseExchange cannot share it and the (often expensive) interval
  * child — `join_range_auto`'s full sessionize window — computes once
  * per branch. Worse, when the child is a MERGING aggregation
  * (session_window), pushing a predicate on the merged bounds below the
  * merge re-evaluates it against PRE-merge per-row windows, so the
  * good/wide row partition the union's exactness proof relies on would
  * be decided on the wrong values. Evaluation cost is one interpreted
  * boolean per interval row (CodegenFallback), far below the duplicated
  * subtree it prevents.
  */
case class PushdownBarrier(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def withNewChildInternal(newChild: Expression): PushdownBarrier =
    copy(child = newChild)
  override def prettyName: String = "graft_pushdown_pin"
}
