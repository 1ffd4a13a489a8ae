package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The per-label PCA aggregation of [[Similarity.gramPowerTopEig]]
  * against the relational power iteration it replaced, rebuilt here: a
  * Gram-cell frame from one exploded groupBy, then one checkpointed
  * matvec-as-join + renorm round per iteration. Every output column must
  * agree bit for bit on fixed-seed inputs.
  */
class PcaKernelSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // ---- the relational reference ----------------------------------------

  private def refGramCells(vectors: DataFrame, embCol: String, labelCol: String,
      dims: Int): DataFrame = {
    val ie = Similarity.intEmbedding(col(embCol))
    vectors
      .select(col(labelCol).as("label"), ie.as("ie"))
      .select(col("label"), posexplode(flatten(
        transform(col("ie"), a => transform(col("ie"), b => a * b))))
        .as(Seq("pos", "p")))
      .groupBy(col("label"), expr(s"pos div $dims").as("i"),
        (col("pos") % dims).cast("long").as("j"))
      .agg(sum(col("p")).as("g"))
  }

  private def refTopEig(vectors: DataFrame, embCol: String, labelCol: String,
      dims: Int, iters: Int): DataFrame = {
    val cells = refGramCells(vectors, embCol, labelCol, dims)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val dbl = (c: Column) => c.cast("double")
    def bitlen(c: Column): Column = length(bin(c)).cast("int")
    def shr(c: Column, n: Column): Column =
      call_function("shiftright", c, n.cast("int"))
    val sg = cells.groupBy(col("label"))
      .agg(max(abs(col("g"))).as("mg"))
      .select(col("label"), greatest(bitlen(col("mg")) - 24, lit(0)).as("sg"))
    val scaled = cells.join(broadcast(sg), "label")
      .select(col("label"), col("i"), col("j"), col("g"),
        shr(col("g"), col("sg")).as("g2"))
      .coalesce(4)
      .localCheckpoint(true)
    def matvec(v: DataFrame): DataFrame =
      scaled.join(broadcast(v), Seq("label", "j"))
        .groupBy(col("label"), col("i"))
        .agg(sum(col("g2") * col("vj")).as("raw"))
    def renorm(raw: DataFrame): DataFrame = {
      val mv = raw.groupBy(col("label")).agg(max(abs(col("raw"))).as("mv"))
        .select(col("label"), greatest(bitlen(col("mv")) - 32, lit(0)).as("sv"))
      raw.join(broadcast(mv), "label")
        .select(col("label"), col("i").as("j"), shr(col("raw"), col("sv")).as("vj"))
    }
    val v0 = cells.select(col("label")).distinct()
      .select(col("label"), explode(sequence(lit(0L), lit(dims - 1L))).as("j"),
        lit(1L).as("vj"))
    var v = v0.coalesce(1).localCheckpoint(true)
    for (_ <- 1 to iters) v = renorm(matvec(v)).coalesce(1).localCheckpoint(true)
    val w = matvec(v).withColumnRenamed("i", "j").withColumnRenamed("raw", "wj")
    val ray = v.join(w, Seq("label", "j"))
      .groupBy(col("label"))
      .agg(sum(d(col("vj")) * d(col("wj"))).as("num"),
        sum(d(col("vj")) * d(col("vj"))).as("den"))
    val tr = cells.filter(col("i") === col("j"))
      .groupBy(col("label")).agg(sum(col("g")).as("trace"))
    val ns = vectors.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    ray.join(broadcast(sg), "label").join(broadcast(tr), "label")
      .join(broadcast(ns), "label")
      .select(col("label"), col("n_vecs"), col("trace"),
        ((dbl(col("num")) / dbl(col("den"))) *
          dbl(call_function("shiftleft", lit(1L), col("sg").cast("int"))))
          .as("eig1"))
      .withColumn("expl_ratio", col("eig1") / dbl(col("trace")))
      .orderBy(col("label"))
  }

  // ---- inputs -------------------------------------------------------------

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  private def frame(rows: Seq[(Integer, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((l, e), k) => Row(k.toLong, l, e) }, 3), schema)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def box(f: Float): java.lang.Float = java.lang.Float.valueOf(f)

  /** One label's rows: components of either sign at a per-label scale
    * (up to |x| = 200, so |ie| up to 2·10^5 and Gram cells past 2^24),
    * now and then a null component, and now and then a null embedding.
    */
  private def labelRows(label: Integer, dims: Int): Gen[Seq[(Integer, Seq[java.lang.Float])]] =
    for {
      scale <- Gen.oneOf(0.5f, 2f, 40f, 200f)
      n <- Gen.choose(1, 6)
      rows <- Gen.listOfN(n, Gen.frequency(
        1 -> Gen.const(null),
        6 -> Gen.listOfN(dims, Gen.frequency(
          1 -> Gen.const(null: java.lang.Float),
          12 -> Gen.choose(-scale, scale).map(box)))))
    } yield rows.map(r => (label, r))

  /** Several labels, plus the edges: a label whose only row is a null
    * embedding, and null-label rows (some all-zero, which would fail the
    * query if the null label were not dropped before the division).
    */
  private def dataset(dims: Int): Gen[Seq[(Integer, Seq[java.lang.Float])]] = for {
    nLabels <- Gen.choose(2, 4)
    labels <- Gen.sequence[Seq[Seq[(Integer, Seq[java.lang.Float])]], Seq[(Integer, Seq[java.lang.Float])]](
      (0 until nLabels).map(l => labelRows(Int.box(l), dims)))
    nulls <- labelRows(null, dims)
    zeros <- Gen.listOfN(2, Gen.listOfN(dims, Gen.choose(0f, 0.0009f).map(box)))
  } yield labels.flatten ++ nulls ++ Seq((Int.box(7), null)) ++
    zeros.map(z => (null: Integer, z))

  private type Out = (Int, Long, Option[Long], Option[Long], Option[Long])

  private def bits(df: DataFrame): Seq[Out] = df.collect().toSeq.map { r =>
    def dbl(k: Int) = Option.when(!r.isNullAt(k))(
      java.lang.Double.doubleToRawLongBits(r.getDouble(k)))
    (r.getInt(0), r.getLong(1), Option.when(!r.isNullAt(2))(r.getLong(2)), dbl(3), dbl(4))
  }

  private def check(rows: Seq[(Integer, Seq[java.lang.Float])], dims: Int, iters: Int): Seq[Out] = {
    val df = frame(rows)
    val got = Similarity.gramPowerTopEig(df, "embedding", "label", dims, iters)
    val ref = refTopEig(df, "embedding", "label", dims, iters)
    assert(got.schema.map(f => f.name -> f.dataType) === ref.schema.map(f => f.name -> f.dataType))
    val (g, r) = (bits(got), bits(ref))
    assert(g === r, s"dims=$dims iters=$iters")
    g
  }

  // ---- bit-exact against the reference --------------------------------

  for (seed <- 1L to 3L; iters <- Seq(0, 1, 5, 8)) {
    test(s"per-label aggregation is bit-exact vs the relational loop (seed $seed, iters $iters)") {
      val dims = 3 + seed.toInt
      val out = check(sample(dataset(dims), seed * 7919L + iters), dims, iters)
      val labels = out.map(_._1)
      // the label with only a null row and the null label have no row
      assert(!labels.contains(7) && labels.contains(0) && labels == labels.sorted)
      assert(out.forall(o => o._3.nonEmpty && o._4.nonEmpty && o._5.nonEmpty))
    }
  }

  test("bit-exact on the sf0.001 embeddings at the query's dims and rounds") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (got, ref) = (Similarity.gramPowerTopEig(df, "embedding", "label", 64, 5),
      refTopEig(df, "embedding", "label", 64, 5))
    assert(bits(got) === bits(ref))
    assert(bits(got).size === 10)
  }

  test("both shifts fire: sg > 0 on the Gram and sv > 0 in round 2") {
    val rows: Seq[Seq[Float]] = Seq(Seq(150f, -120f, 90f, 30f),
      Seq(140f, 100f, -80f, 20f), Seq(-130f, 110f, 70f, -60f))
    // the shift counts, in plain Scala integers
    def bitlen(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val ie = rows.map(_.map(x => math.floor(x.toDouble * 1000).toLong))
    val g = Array.tabulate(4, 4)((i, j) => ie.map(v => v(i) * v(j)).sum)
    val sg = bitlen(g.flatten.map(math.abs).max) - 24
    val g2 = g.map(_.map(_ >> sg))
    def mv(v: Array[Long]) = g2.map(r => r.indices.map(j => r(j) * v(j)).sum)
    val raw1 = mv(Array.fill(4)(1L))
    val v1 = raw1.map(_ >> math.max(bitlen(raw1.map(math.abs).max) - 32, 0))
    assert(sg > 0 && bitlen(mv(v1).map(math.abs).max) - 32 > 0)
    check(rows.map(r => (Int.box(1): Integer, r.map(box))), 4, 2)
  }

  test("a null component adds nothing, as the relational sums skipped it") {
    val dims = 3
    val rows: Seq[(Integer, Seq[java.lang.Float])] = Seq(
      (1, Seq(box(1f), null, box(-2f))),
      (1, Seq(box(0.5f), box(3f), box(1f))),
      (1, Seq(box(-1f), box(2f), null)),
      // component 1 of label 2 is null in every row: a null Gram row and
      // column, and a null iterate entry, in the relational loop
      (2, Seq(box(2f), null, box(1f))),
      (2, Seq(box(-1f), null, box(3f))))
    check(rows, dims, 5)
  }

  test("a label whose components are all null has null trace, eig1 and expl_ratio") {
    val rows: Seq[(Integer, Seq[java.lang.Float])] = Seq(
      (1, Seq(null, null)), (1, Seq(null, null)), (1, null),
      (2, Seq(box(1f), box(2f))))
    val out = check(rows, 2, 5)
    assert(out.head === ((1, 3L, None, None, None)))
    assert(out(1)._3.nonEmpty && out(1)._4.nonEmpty)
  }

  private def failure(df: DataFrame): Seq[String] = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
  }

  test("a zero divisor fails the query on both sides, as ANSI division does") {
    // an all-zero label has trace 0; (1, -1) and (-1, 1) give a Gram
    // that maps the all-ones start to 0, so the Rayleigh denominator is
    // 0 after one round while the trace is not
    val zero: Seq[(Integer, Seq[java.lang.Float])] =
      Seq((1, Seq(box(1f), box(2f))), (2, Seq(box(0f), box(0.0005f))))
    val null1: Seq[(Integer, Seq[java.lang.Float])] =
      Seq((1, Seq(box(1f), box(-1f))), (1, Seq(box(-1f), box(1f))))
    for ((rows, iters) <- Seq(zero -> 0, zero -> 5, null1 -> 1)) {
      val df = frame(rows)
      assert(failure(refTopEig(df, "embedding", "label", 2, iters))
        .exists(_.contains("DIVIDE_BY_ZERO")))
      assert(failure(Similarity.gramPowerTopEig(df, "embedding", "label", 2, iters))
        .exists(_.contains("division by zero")))
    }
    // with no round, the (1, -1) label still divides by the all-ones norm
    check(null1, 2, 0)
  }

  test("a non-null embedding of the wrong length fails the query, naming its label") {
    val rows: Seq[(Integer, Seq[java.lang.Float])] = Seq(
      (1, Seq(box(1f), box(2f), box(3f))),
      (4, Seq(box(1f), box(2f), box(3f), box(4f))))
    val msgs = failure(Similarity.gramPowerTopEig(frame(rows), "embedding", "label", 3, 5))
    assert(msgs.exists(m => m.contains("label 4") && m.contains("length 4")), msgs.head)
  }

  test("sim_pca_power runs at most 5 Spark jobs on sf0.001") {
    var rows = Array.empty[Row]
    val jobs = sparkJobs { rows = graft.SparkEntry.queries("sim_pca_power")(spark, sfDir).collect() }
    assert(rows.length === 10)
    info(s"$jobs jobs")
    assert(jobs >= 1 && jobs <= 5, s"$jobs jobs")
  }
}
