package graft.plans

import graft.SparkSpec
import graft.functions.VectorExpressions
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.functions._

class EpsJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def points(n: Int, seed: Long) = {
    // deterministic pseudo-random points in [0, 4)^3
    def h(i: Long, k: Long) = {
      val x = (i * 2654435761L + k * 40503L + seed) & 0xffffffL
      x.toDouble / 0x1000000L.toDouble * 4.0
    }
    (0 until n).map(i => (i.toLong, h(i, 1), h(i, 2), h(i, 3)))
      .toDF("id", "x", "y", "z")
  }

  private def naive(eps: Double) = {
    val a = points(200, 7).select(col("id").as("a_id"), col("x").as("ax"),
      col("y").as("ay"), col("z").as("az"))
    val b = points(200, 13).select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), col("z").as("bz"))
    a.join(b,
      VectorExpressions.dist3(col("ax"), col("ay"), col("az"),
        col("bx"), col("by"), col("bz")) < eps && col("a_id") =!= col("b_id"))
  }

  test("eps-join rewrite: plan is a grid equi-join, not a nested loop") {
    val plan = naive(0.3).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested loop survived:\n$plan")
    assert(plan.contains("Generate explode"), "neighbor explode missing")
  }

  test("eps-join rewrite: result identical to the brute-force theta join") {
    val eps = 0.3
    val a = points(200, 7).select(col("id").as("a_id"), col("x").as("ax"),
      col("y").as("ay"), col("z").as("az"))
    val b = points(200, 13).select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), col("z").as("bz"))
    val brute = a.crossJoin(b)
      .filter(sqrt((col("ax") - col("bx")) * (col("ax") - col("bx"))
        + (col("ay") - col("by")) * (col("ay") - col("by"))
        + (col("az") - col("bz")) * (col("az") - col("bz"))) < eps
        && col("a_id") =!= col("b_id"))
    val got = naive(eps)
    assert(got.count() > 0, "degenerate fixture: no pairs within eps")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }

  test("eps-join rewrite fires from SQL via graft_dist3") {
    points(120, 7).createOrReplaceTempView("pa")
    points(120, 13).createOrReplaceTempView("pb")
    val df = spark.sql("""
      SELECT a.id AS a_id, b.id AS b_id
      FROM pa a JOIN pb b
        ON graft_dist3(a.x, a.y, a.z, b.x, b.y, b.z) < 0.3""")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested loop survived:\n$plan")
    val viaApi = points(120, 7).select(col("id").as("a_id"), col("x"), col("y"), col("z"))
      .join(points(120, 13).select(col("id").as("b_id"),
        col("x").as("bx"), col("y").as("by"), col("z").as("bz")),
        VectorExpressions.dist3(col("x"), col("y"), col("z"),
          col("bx"), col("by"), col("bz")) < 0.3)
      .select("a_id", "b_id")
    assert(df.exceptAll(viaApi).isEmpty && viaApi.exceptAll(df).isEmpty)
  }

  test("outer joins and non-constant bounds are left untouched") {
    // non-constant eps (column bound): no rewrite, still correct
    val b = points(30, 13).select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), col("z").as("bz"), (col("id") % 2 / 10.0 + 0.2).as("eps"))
    val df = points(30, 7).select(col("id").as("a_id"), col("x").as("ax"),
        col("y").as("ay"), col("z").as("az"))
      .join(b,
        VectorExpressions.dist3(col("ax"), col("ay"), col("az"),
          col("bx"), col("by"), col("bz")) < col("eps"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
    assert(df.count() >= 0) // evaluates fine un-rewritten
  }

  test("left outer eps-join is not rewritten (unmatched rows must survive)") {
    val a = points(50, 7).select(col("id").as("a_id"), col("x").as("ax"),
      col("y").as("ay"), col("z").as("az"))
    val b = points(50, 13).select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), col("z").as("bz"))
    val df = a.join(b,
      VectorExpressions.dist3(col("ax"), col("ay"), col("az"),
        col("bx"), col("by"), col("bz")) < 0.05, "left_outer")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"outer join must stay un-rewritten:\n$plan")
    // every left row survives, matched or not
    assert(df.select("a_id").distinct().count() === 50)
  }

  test("NaN/Infinity coordinates: rewritten join == theta join (rows dropped)") {
    import spark.implicits._
    val a = Seq((1L, 0.0, 0.0, 0.0), (2L, Double.NaN, 0.0, 0.0),
        (3L, Double.PositiveInfinity, 0.0, 0.0))
      .toDF("a_id", "ax", "ay", "az")
    val b = Seq((10L, 0.01, 0.0, 0.0), (11L, Double.NaN, 0.0, 0.0))
      .toDF("b_id", "bx", "by", "bz")
    val got = a.join(b,
        VectorExpressions.dist3(col("ax"), col("ay"), col("az"),
          col("bx"), col("by"), col("bz")) < 0.3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // NaN/Inf distances fail the residual exactly as they fail the
    // theta-join predicate — no errors, no phantom matches
    assert(got.toSeq === Seq((1L, 10L)))
  }

  test("spark.graft.epsJoinRewrite.enabled=false keeps the nested loop") {
    spark.conf.set("spark.graft.epsJoinRewrite.enabled", "false")
    val plan = try naive(0.3).queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.graft.epsJoinRewrite.enabled")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"disabled rule still rewrote:\n$plan")
    assert(!plan.contains("Generate explode"))
  }

  test("a user BROADCAST hint on an eps join ends up on the rewritten cell equi-join") {
    val a = points(200, 7).select(col("id").as("a_id"), col("x").as("ax"),
      col("y").as("ay"), col("z").as("az"))
    val b = points(200, 13).select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), col("z").as("bz"))
    val df = a.join(broadcast(b), VectorExpressions.dist3(col("ax"), col("ay"), col("az"),
      col("bx"), col("by"), col("bz")) < 0.3)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size === 1, s"expected the one cell join:\n${df.queryExecution.optimizedPlan}")
    val j = joins.head
    assert(j.condition.exists(_.references.exists(_.name == "__graft_nx")),
      s"not the rewritten cell join: $j")
    assert(j.hint.rightHint.flatMap(_.strategy) === Some(BROADCAST))
    assert(j.hint.leftHint.isEmpty)
  }
}
