package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.functions._

/** The automatic levenshtein-join rewrite: plans an equi-join, returns
  * exactly the nested-loop rows (including multiplicity), and leaves
  * out-of-scope shapes untouched.
  */
class EditDistRewriteSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def strings = {
    import spark.implicits._
    // duplicates and multi-variant-sharing pairs on purpose: "aa"/"aa"
    // share three deletion keys, "abc"/"ac" are a deletion pair,
    // "abc"/"abd" a substitution pair, "zzz" matches nothing
    Seq((1L, "abc"), (2L, "abd"), (3L, "ac"), (4L, "aa"), (5L, "aa"),
      (6L, "zzz"), (7L, "b"), (8L, ""))
      .toDF("id", "s")
  }

  test("levenshtein<=1 join plans as equi-join and matches the nested loop") {
    val d = strings
    val joined = d.as("a").join(d.as("b"),
      col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.id").as("x"), col("b.id").as("y"))
    val p = plan(joined)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rewrite must remove the all-pairs join:\n$p")

    spark.conf.set("spark.graft.editDistJoinRewrite.enabled", "false")
    val naive = try {
      d.as("a").join(d.as("b"),
        col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) <= 1)
        .select(col("a.id").as("x"), col("b.id").as("y"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    } finally spark.conf.set("spark.graft.editDistJoinRewrite.enabled", "true")

    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == naive, s"rewrite changed results: got=$got want=$naive")
    assert(got.contains((4L, 5L)), "identical strings must appear exactly once")
    assert(got.count(_ == (4L, 5L)) == 1)
  }

  test("levenshtein=0 join also rewrites (exact-key path)") {
    val d = strings
    val joined = d.as("a").join(d.as("b"),
      col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) === 0)
      .select(col("a.id").as("x"), col("b.id").as("y"))
    assert(!plan(joined).contains("BroadcastNestedLoopJoin"))
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((4L, 5L)))
  }

  test("k=2 bound is out of scope and keeps the theta join") {
    val d = strings
    val joined = d.as("a").join(d.as("b"),
      col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) <= 2)
    val p = plan(joined)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
  }

  test("thresholded levenshtein in the residual does not re-trigger the rule") {
    // the rewritten query is stable across repeated optimizations
    val d = strings
    val joined = d.as("a").join(d.as("b"),
      col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) <= 1)
    val once = joined.queryExecution.optimizedPlan
    // count Join nodes: exactly one equi-join, no nested rewrite towers
    val joins = once.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1)
  }

  /** The optimized plan's join keyed on the right side's variant hash. */
  private def pairJoin(df: org.apache.spark.sql.DataFrame): Join = {
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size === 1, s"expected the one pair join:\n${df.queryExecution.optimizedPlan}")
    assert(joins.head.condition.exists(_.references.exists(_.name == "__graft_rk")),
      s"not the rewritten variant join: ${joins.head}")
    joins.head
  }

  test("a user BROADCAST hint on an edit-distance join ends up on the rewritten pair join") {
    val d = strings
    val joined = d.as("a").join(broadcast(d.as("b")),
      col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) <= 1)
    val j = pairJoin(joined)
    assert(j.hint.rightHint.flatMap(_.strategy) === Some(BROADCAST))
    assert(j.hint.leftHint.isEmpty)
    assert(plan(joined).contains("BroadcastHashJoin"))
  }

  test("an unhinted edit-distance join plans a SortMergeJoin") {
    val d = strings
    val joined = d.as("a").join(d.as("b"),
      col("a.id") < col("b.id") && levenshtein(col("a.s"), col("b.s")) <= 1)
    pairJoin(joined)
    val p = plan(joined)
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the pair join must shuffle-merge:\n$p")
  }
}
