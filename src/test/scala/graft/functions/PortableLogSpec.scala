package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class PortableLogSpec extends SparkSpec {
  import spark.implicits._

  /** The HOF reference form of [[PortableLog.log2q10]]: exponent from
    * `bin()`'s length, then the count of boundary-table steps at or
    * below the mantissa.
    */
  private def log2q10Hof(n: Column): Column = {
    val nl = n.cast("long")
    val e = (length(bin(nl)) - 1).cast("int")
    // exact: numerator < 2^53, denominator a power of two
    val x = nl.cast("double") / call_function("shiftleft", lit(1L), e).cast("double")
    val table = typedLit(PortableLog.boundaries.toIndexedSeq)
    e.cast("long") * PortableLog.Q + size(filter(table, v => x >= v)).cast("long") - 1
  }

  test("log2q10 == floor(1024*log2 n) within one table-boundary step") {
    val rnd = new scala.util.Random(11)
    val ns = Seq(1L, 2L, 3L, 4L, 5L, 7L, 10L, 63L, 64L, 65L, 100L, 12345L,
      999999999L, (1L << 42), (1L << 42) + 12345L) ++
      (1 to 200).map(_ => math.abs(rnd.nextLong()) % (1L << 50) + 1)
    val got = ns.toDF("n")
      .select(col("n"), PortableLog.log2q10(col("n")).as("l"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (n, l) =>
      val exact = math.log(n.toDouble) / math.log(2.0) * PortableLog.Q
      // table boundaries are half-ulp-rounded: allow one fixed-point step
      assert(math.abs(l - exact) <= 1.5, s"n=$n l=$l exact=$exact")
    }
    // exact at powers of two
    assert(got.toMap.apply(64L) === 6 * PortableLog.Q)
    assert(got.toMap.apply(1L << 42) === 42L * PortableLog.Q)
  }

  test("log2q10 is monotone non-decreasing") {
    val ns = (1L to 2000L) ++ (1 to 300).map(i => (1L << 30) + i * 7919L)
    val got = ns.toDF("n").orderBy("n")
      .select(PortableLog.log2q10(col("n")))
      .collect().map(_.getLong(0))
    got.sliding(2).foreach { case Array(a, b) => assert(a <= b) }
  }

  test("native Log2Q10Expr == the HOF reference form, bit for bit") {
    // the native binary-search expression must replicate the original
    // filter-over-boundary-table column EXACTLY, including
    // boundary-exact inputs (powers of two — x lands on T[0]=1.0),
    // values adjacent to every table step at several exponents, and
    // out-of-contract n <= 0 (bin() length semantics)
    val rnd = new scala.util.Random(20260815)
    val boundaryish = for {
      e <- Seq(10, 20, 40, 52)
      k <- Seq(0, 1, 511, 512, 1023)
      d <- Seq(-1L, 0L, 1L)
    } yield (math.ceil(PortableLog.boundaries(k) * (1L << e)).toLong + d).max(1L)
    val ns = Seq(0L, -1L, -42L, Long.MinValue, 1L, 2L, 3L, Long.MaxValue) ++
      boundaryish ++
      (1 to 500).map(_ => math.abs(rnd.nextLong()) % (1L << 52) + 1)
    val rows = ns.toDF("n")
      .select(col("n"), PortableLog.log2q10(col("n")).as("fast"),
        log2q10Hof(col("n")).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"n=${r.getLong(0)} native=${r.getLong(1)} hof=${r.getLong(2)}")
    }
    // and the scalar runtime agrees with the column path
    ns.foreach { n =>
      val viaDf = Seq(n).toDF("n")
        .select(PortableLog.log2q10(col("n"))).collect()(0).getLong(0)
      assert(PortableLog.log2q10Long(n) == viaDf, s"scalar diverged at n=$n")
    }
  }

  test("entropy identity: uniform counts give log2(k), single class gives 0") {
    // H = (n*L(n) - sum c*L(c)) / (n*Q); for k equal counts c: n = k*c,
    // H should be ~log2 k; for one class H = 0 exactly
    def h(counts: Seq[Long]): Double = {
      val df = counts.toDF("c")
        .agg(sum(col("c")).as("n"),
          sum(col("c") * PortableLog.log2q10(col("c"))).as("sl"))
        .select((col("n") * PortableLog.log2q10(col("n")) - col("sl"))
          .cast("double") / (col("n") * PortableLog.Q).cast("double"))
      df.collect()(0).getDouble(0)
    }
    assert(h(Seq(42L)) === 0.0)
    assert(math.abs(h(Seq.fill(8)(100L)) - 3.0) < 0.01)
    assert(math.abs(h(Seq(50L, 50L)) - 1.0) < 0.01)
  }
}
