package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: the higher-order
  * fold allocates and boxes per element (and builds an intermediate
  * product array); on an N-pair similarity join that is the entire hot
  * loop. This compiles into a primitive `double` loop inside whole-stage
  * codegen — same left-to-right summation order as the fold, so results
  * stay bit-identical with the DuckDB oracle's list_reduce.
  *
  * Generalizes the reference's distance kernel (NeighborSearch,
  * process_af3_outputs.py:233/242) to high-dimensional embeddings.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Same, for `array<long>` (the integer-exact LSH path). */
case class LongDotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Native codegen'd polynomial rolling hash of a string:
  * acc = (acc * 131 + codepoint) mod 9007199254740881 over the string's
  * codepoints — bit-identical to the `aggregate(split(s, ''), ...)`
  * higher-order fold (and DuckDB's list_reduce mirror), but compiled as
  * a primitive loop instead of an interpreted per-character lambda with
  * a materialized one-char-string array. This hash keys the entire
  * dedup/sampling family (word ids, fingerprints, split buckets), so it
  * is the hottest scalar in the corpus pipelines.
  */
case class PolyHashExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {

  private val P = 9007199254740881L

  override def inputTypes: Seq[AbstractDataType] = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 131L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 131L + $cp) % ${P}L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}

/** Intersection cardinality of two SORTED `array<long>` columns — a
  * two-pointer merge walk, no intermediate array, no hash set.
  *
  * Why an Expression and not `size(array_intersect(a, b))`: the builtin
  * materializes the intersection array (plus a per-call hash set) when
  * only its size is needed — on a blocked pairwise-similarity join that
  * allocation is the entire hot loop. Caller contract: both arrays
  * ascending and duplicate-free (sort_array over collect_set); the merge
  * then counts matches in O(n+m) primitive compares inside whole-stage
  * codegen.
  */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var acc = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { acc += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0;
         |long $acc = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $acc++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Z-order (Morton) key over two bucketed long dimensions: interleaves
  * the low 16 bits of each (x bit b -> output bit 2b, y bit b -> 2b+1),
  * yielding a 32-bit locality key. Sorting / range-partitioning a table
  * by this key clusters rows that are close in BOTH dimensions into the
  * same partitions/files — the standard multi-dimensional data-skipping
  * layout (a 2-D range predicate then prunes most files, where a
  * lexicographic (x, y) sort clusters only the leading column).
  *
  * A native codegen'd Expression: the interleave is a tight 16-step
  * primitive loop inside whole-stage codegen; inputs are expected
  * pre-bucketed (values masked to their low 16 bits here, so callers
  * bucket coordinates into [0, 65536) first). Pure bit arithmetic —
  * reproducible verbatim in the SQL oracle.
  */
// ImplicitCastInputTypes (not plain ExpectsInputTypes): the interleave is
// width-agnostic (inputs masked to 16 bits), so narrower integer columns /
// int literals should widen to BIGINT instead of failing analysis.
case class ZOrder2Expr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long] & 0xffffL
    val y = b.asInstanceOf[Long] & 0xffffL
    var acc = 0L
    var i = 0
    while (i < 16) {
      acc |= ((x >> i) & 1L) << (2 * i)
      acc |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |long $x = $a & 0xffffL;
         |long $y = $b & 0xffffL;
         |long $acc = 0L;
         |for (int $i = 0; $i < 16; $i++) {
         |  $acc |= (($x >> $i) & 1L) << (2 * $i);
         |  $acc |= (($y >> $i) & 1L) << (2 * $i + 1);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 3-D Euclidean distance `sqrt((ax-bx)^2 + (ay-by)^2 + (az-bz)^2)` —
  * the library's recognizable ε-join predicate. A join condition
  * `graft_dist3(ax,ay,az,bx,by,bz) < eps` is rewritten by
  * [[graft.plans.EpsJoinRewrite]] from a nested-loop theta-join into the
  * grid-cell equi-join (the reference's KD-tree NeighborSearch semantics
  * at cluster scale). Evaluation order is fixed left-associative —
  * `((dx*dx + dy*dy) + dz*dz)` — so the raw-arithmetic residual the
  * rewrite emits is bit-identical to evaluating this expression.
  */
case class GraftDist3Expr(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {

  require(children.length == 6, "graft_dist3 takes (ax, ay, az, bx, by, bz)")

  override def inputTypes: Seq[AbstractDataType] = Seq.fill(6)(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_dist3"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Double](6)
    var i = 0
    while (i < 6) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Double]
      i += 1
    }
    val dx = vs(0) - vs(3); val dy = vs(1) - vs(4); val dz = vs(2) - vs(5)
    java.lang.Math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val dx = ctx.freshName("dx")
    val dy = ctx.freshName("dy")
    val dz = ctx.freshName("dz")
    val anyNull = evals.map(e => s"${e.isNull}").mkString(" || ")
    val childCode = evals.map(_.code).reduce(_ + _)
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          double $dx = ${evals(0).value} - ${evals(3).value};
          double $dy = ${evals(1).value} - ${evals(4).value};
          double $dz = ${evals(2).value} - ${evals(5).value};
          ${ev.value} = java.lang.Math.sqrt($dx * $dx + $dy * $dy + $dz * $dz);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Native form of [[graft.functions.PortableLog.log2q10]]: fixed-point
  * base-2 log of a long via exponent extraction + binary search over the
  * static 1024-entry boundary table. The higher-order
  * `size(filter(boundaries, v => x >= v))` reference form evaluates 1024
  * boxed comparisons per call — applied at fact grain that dominates
  * whole queries; this compiles to a static call inside whole-stage
  * codegen with O(log 1024) comparisons and bit-identical results
  * (PortableLogSpec pins the equivalence, including boundary-exact and
  * out-of-contract inputs).
  */
case class Log2Q10Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_log2q10"

  override def nullSafeEval(input: Any): Any =
    graft.functions.PortableLog.log2q10Long(input.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableLog.log2q10Long($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
