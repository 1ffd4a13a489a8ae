package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{array, array_distinct, array_intersect, array_min, col, concat, explode, length, lit, sequence, transform, when, xxhash64}
import org.apache.spark.sql.graft.ColumnBridge

/** Automatic similarity-join recognition for STRINGS — the edit-distance
  * sibling of [[EpsJoinRewrite]]: an inner join whose condition bounds
  * `levenshtein(a, b)` by a constant k ∈ {0, 1} is rewritten from the
  * nested-loop theta-join Spark would otherwise plan into the FastSS
  * deletion-neighborhood equi-join: each side emits its string plus its
  * one-character-deletion variants (distinct — "aa" deletes to "a" twice),
  * the join keys on the shared variant, and a minimal-shared-key gate
  * (`key = array_min(array_intersect(lkeys, rkeys))`) keeps EXACTLY ONE
  * occurrence of every qualifying pair — no duplicates from pairs that
  * share several variants, no row-id bookkeeping.
  *
  * Completeness: ed(a,b) ≤ 1 implies a shared variant — substitution at
  * position i: both drop i; insertion/deletion: the shorter string IS a
  * variant of the longer; equality: the strings themselves. So the key
  * join is a certified candidate superset and the residual levenshtein
  * re-verifies exactly.
  *
  * The matched conjunct is re-expressed through the THRESHOLDED
  * levenshtein (`levenshtein(a, b, k) >= 0` — banded DP, and no longer a
  * match for this rule, so optimizer iterations terminate); every other
  * conjunct rides along unchanged in the residual filter.
  *
  * Cost model: candidate emission is O(total characters) rows — the
  * standard FastSS trade. For ID-like strings that is ~|s| keys per row;
  * for long texts the emission is large in absolute terms but still
  * dominates the O(n²·L²) nested loop it replaces asymptotically.
  *
  * Injected via [[graft.GraftExtensions]]; kill switch
  * `spark.graft.editDistJoinRewrite.enabled=false`. Any unexpected shape
  * falls back to the untouched join with a logged warning.
  *
  * CAUTION for hand-blocked callers: a query that ALREADY does its own
  * FastSS blocking and then re-verifies with the plain two-argument
  * `levenshtein(a, b) <= 1` will have that filter pushed into its join
  * condition, re-match this rule, and stack a second deletion-variant
  * explode on the pre-exploded inputs (measured 10× slowdown on
  * join_entity_resolution in round 6). Hand-written verification must
  * use the thresholded form — `levenshtein(a, b, k) >= 0` — which this
  * rule deliberately never matches.
  */
class EditDistJoinRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  private def litInt(e: Expression): Option[Int] = e match {
    case f if f.foldable =>
      f.eval(null) match {
        case i: java.lang.Integer => Some(i.intValue())
        case l: java.lang.Long if l.longValue().isValidInt => Some(l.intValue())
        case s: java.lang.Short => Some(s.intValue())
        case b: java.lang.Byte => Some(b.intValue())
        case _ => None
      }
    case _ => None
  }

  /** If `conj` bounds an un-thresholded levenshtein above by k ∈ {0,1},
    * return (left-side string expr, right-side string expr, k, the
    * matched levenshtein) oriented to the join's children.
    */
  private def matchEd(conj: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Int, Levenshtein)] = {
    val bound = conj match {
      case LessThanOrEqual(l: Levenshtein, e) if l.threshold.isEmpty =>
        litInt(e).map((l, _))
      case LessThan(l: Levenshtein, e) if l.threshold.isEmpty =>
        litInt(e).map(k => (l, k - 1))
      case GreaterThanOrEqual(e, l: Levenshtein) if l.threshold.isEmpty =>
        litInt(e).map((l, _))
      case GreaterThan(e, l: Levenshtein) if l.threshold.isEmpty =>
        litInt(e).map(k => (l, k - 1))
      case EqualTo(l: Levenshtein, e) if l.threshold.isEmpty =>
        litInt(e).filter(_ == 0).map((l, _))
      case _ => None
    }
    bound.filter { case (_, k) => k == 0 || k == 1 }.flatMap { case (l, k) =>
      val (a, b) = (l.left, l.right)
      if (!a.deterministic || !b.deterministic) None
      else {
        val aRefs = a.references
        val bRefs = b.references
        if (aRefs.nonEmpty && bRefs.nonEmpty &&
            aRefs.subsetOf(left.outputSet) && bRefs.subsetOf(right.outputSet))
          Some((a, b, k, l))
        else if (aRefs.nonEmpty && bRefs.nonEmpty &&
            aRefs.subsetOf(right.outputSet) && bRefs.subsetOf(left.outputSet))
          Some((b, a, k, l))
        else None
      }
    }
  }

  /** The string itself plus (for k=1) its one-char-deletion variants,
    * distinct, HASHED to 64-bit keys — the FastSS blocking key set.
    *
    * Hashing is what keeps the exchange narrow (round 10): the variant
    * set of an n-char string is ~n strings of ~n chars (O(n²) bytes per
    * row riding the shuffle TWICE — as the exploded join key and as
    * both gate arrays); as xxhash64 longs the same information is 8·n
    * bytes. Bit-exactness is unchanged: a hash collision only ADDS a
    * candidate pair, which the exact levenshtein residual kills; the
    * exactly-once argument transfers verbatim to the hashed key space
    * (arrays are distinct longs, one row survives per pair — the one
    * whose joined key equals the min of the hash-set intersection).
    * Measured A/B at sf1 in SCALE.md round-10 notes (string keys ran
    * 15.7 s in-suite; hashed keys probe at 6.7 s isolated).
    */
  private def keyCol(e: Expression, k: Int) = {
    val c = ColumnBridge.column(e)
    // k=0 keeps null-rejection explicit: xxhash64(NULL) is the SEED (a
    // real long), so hashing a NULL string would hand every null row
    // the same join key — a quadratic NULL×NULL candidate block on
    // null-heavy columns (correct but skewed; the levenshtein residual
    // null-rejects anyway). A null key row instead dies at the equi-join,
    // matching the k=1 path where sequence(1, length(NULL)) already
    // nulls the variant array and explode drops the row.
    if (k == 0) array(when(c.isNull, lit(null).cast("long"))
      .otherwise(xxhash64(c)))
    else array_distinct(transform(
      concat(array(c),
        transform(sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))),
      v => xxhash64(v)))
  }

  private def rewrite(
      join: Join,
      aE: Expression,
      bE: Expression,
      k: Int,
      matched: Expression,
      lev: Levenshtein,
      allConjuncts: Seq[Expression]): LogicalPlan = {
    val lDf = ColumnBridge.ofRows(session, join.left)
    val rDf = ColumnBridge.ofRows(session, join.right)
    val lK = lDf.withColumn("__graft_lks", keyCol(aE, k))
      .withColumn("__graft_lk", explode(col("__graft_lks")))
    val rK = rDf.withColumn("__graft_rks", keyCol(bE, k))
      .withColumn("__graft_rk", explode(col("__graft_rks")))
    // the matched conjunct re-verifies through the banded thresholded
    // levenshtein (returns -1 above the band — and cannot re-match this
    // rule); everything else rides along verbatim
    val residual = allConjuncts.map { c =>
      if (c eq matched)
        GreaterThanOrEqual(
          Levenshtein(lev.left, lev.right, Some(Literal(k))), Literal(0))
      else c
    }.reduce[Expression](And)
    val dedupGate = lK("__graft_lk") ===
      array_min(array_intersect(col("__graft_lks"), col("__graft_rks")))
    val out = lK.join(rK, lK("__graft_lk") === rK("__graft_rk"), "inner")
      .filter(dedupGate && ColumnBridge.column(residual))
      .select(join.output.map(ColumnBridge.column): _*)
    // r12: the variant join must never BROADCAST — Spark's size estimate
    // of an exploded side stays at the scan's bytes, so it auto-built a
    // hash relation ~|s|x the input table that grows with the corpus
    // (sf1: 28.5M rows with array payloads — memory-thrash laps of
    // 8-89 s, and past ~10x it crosses the 8 GB / 512M-row broadcast
    // cap outright). SHUFFLE_MERGE is the graceful-spill strategy the
    // r11 SHUFFLE_HASH negative already established; a since-deleted
    // probe's round-robin minima at sf1: merge 7.8 s (worst lap 17 s) vs
    // broadcast 7.7 s (worst lap 44 s). The hint goes on the Join node
    // DIRECTLY (a Dataset .hint() here would leave a ResolvedHint the
    // already-finished hint-elimination batch never merges — planner
    // INTERNAL_ERROR); the user's own hint, if any, still wins below.
    reapplyHint(applyMergeHint(out.queryExecution.analyzed), join.hint)
  }

  /** Set SHUFFLE_MERGE on the first (topmost) Join under unary nodes —
    * the pair join this rule just built — leaving any nested joins from
    * the original children untouched.
    */
  private def applyMergeHint(plan: LogicalPlan): LogicalPlan = plan match {
    case j: Join if j.hint == JoinHint.NONE =>
      j.copy(hint = JoinHint(None,
        Some(org.apache.spark.sql.catalyst.plans.logical.HintInfo(
          strategy = Some(org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_MERGE)))))
    case u if u.children.size == 1 =>
      u.withNewChildren(Seq(applyMergeHint(u.children.head)))
    case other => other
  }

  private def reapplyHint(plan: LogicalPlan, hint: JoinHint): LogicalPlan =
    if (hint == JoinHint.NONE) plan
    else plan match {
      case j: Join => j.copy(hint = hint)
      case u if u.children.size == 1 =>
        u.withNewChildren(Seq(reapplyHint(u.children.head, hint)))
      case other => other
    }

  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.editDistJoinRewrite.enabled", "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _) if jt == Inner || jt == Cross =>
        val cs = conjuncts(cond)
        cs.iterator
          .map(c => (c, matchEd(c, left, right)))
          .collectFirst { case (c, Some(m)) => (c, m) } match {
          case Some((c, (aE, bE, k, lev))) =>
            try rewrite(j, aE, bE, k, c, lev, cs)
            catch {
              case NonFatal(e) =>
                logWarning(s"edit-distance join rewrite failed, keeping nested-loop join: $e")
                j
            }
          case None => j
        }
    }
}
