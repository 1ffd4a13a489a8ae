package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf

/** The skeleton of a rule that turns an inner theta join into a bucketed
  * equi-join ([[EpsJoinRewrite]], [[EditDistJoinRewrite]],
  * [[RangeJoinRewrite]]); a rule brings only its matcher and its
  * replacement subtree ([[rewrite]]).
  *
  * Injected via [[graft.GraftExtensions]] as an operator-optimization
  * rule, one instance per session: plan surgery analyzes the replacement
  * subtree under the owning session, not whatever session is
  * thread-active. The replacement is built with the DataFrame API over
  * the join's children ([[frame]]: attribute ids preserved, so it exposes
  * the original output schema bit for bit).
  *
  * Kill switch: `SET <enabledKey>=false` disables the rule per session
  * without a redeploy. Any failure while matching or building falls back
  * to the untouched join with a warning naming the rule: a silent
  * fallback is an O(n²) nested-loop cliff only visible in plans.
  */
abstract class JoinRewrite(session: SparkSession, enabledKey: String)
    extends Rule[LogicalPlan] with PredicateHelper {

  /** The replacement of an inner or cross `join` whose condition splits
    * into `conjuncts`, or `None` when the rule does not match it.
    */
  protected def rewrite(join: Join, conjuncts: Seq[Expression]): Option[LogicalPlan]

  /** Joins the rule never looks at. */
  protected def skips(join: Join): Boolean = false

  protected def enabled: Boolean =
    SQLConf.get.getConfString(enabledKey, "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner | Cross, Some(cond), _) if !skips(j) =>
        try rewrite(j, splitConjunctivePredicates(cond)).getOrElse(j)
        catch {
          case NonFatal(e) =>
            logWarning(s"$ruleName failed, keeping nested-loop join: $e")
            j
        }
    }

  /** A plan of the join's child as a DataFrame of the owning session. */
  protected def frame(child: LogicalPlan): DataFrame = ColumnBridge.ofRows(session, child)

  /** Which way round `a` and `b` sit on `join`'s children: `Some(true)`
    * when `a`'s references all come from the left child and `b`'s from
    * the right, `Some(false)` when swapped, else `None`. Expressions that
    * reference nothing fit either side.
    */
  protected def orient(a: Seq[Expression], b: Seq[Expression], join: Join): Option[Boolean] = {
    def in(es: Seq[Expression], side: LogicalPlan) =
      AttributeSet(es.flatMap(_.references)).subsetOf(side.outputSet)
    if (in(a, join.left) && in(b, join.right)) Some(true)
    else if (in(a, join.right) && in(b, join.left)) Some(false)
    else None
  }

  /** The value of a foldable `e`, as `convert` takes it. */
  protected def literal[T](e: Expression)(convert: PartialFunction[Any, T]): Option[T] =
    if (e.foldable) Option(e.eval(null)).collect(convert) else None

  /** `f` applied to the topmost Join under the unary nodes of `plan`, the
    * pair join a rewrite just built, leaving nested joins of the original
    * children untouched. Hints go on the Join node directly: a Dataset
    * `.hint()` here would leave a ResolvedHint that the finished
    * hint-elimination batch never merges (a planner INTERNAL_ERROR).
    * Without such a Join the plan comes back as it is, with a warning.
    */
  protected def onTopJoin(plan: LogicalPlan)(f: Join => Join): LogicalPlan = plan match {
    case j: Join => f(j)
    case u if u.children.size == 1 => u.withNewChildren(Seq(onTopJoin(u.children.head)(f)))
    case other =>
      logWarning(s"$ruleName: no Join under the rebuilt top (${other.nodeName}), " +
        "its hint is not applied")
      other
  }
}
