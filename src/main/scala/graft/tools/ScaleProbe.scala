package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scaling probe: run representative operator shapes at 1× and ~10× the
  * bench scale factor (the 10× input is the sf0.1 parquet unioned with
  * itself with shifted keys — same distribution, 10× the rows, no
  * synthetic data generation) and report the wall-time ratio. A shape
  * whose ratio tracks ~10× scales linearly in input; super-linear ratios
  * flag the operator that would not survive the next 100×.
  *
  * `runMain graft.tools.ScaleProbe [sfDir]` — prints one line per probe.
  */
object ScaleProbe {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** `k` copies with keys shifted per copy so key cardinality also
    * scales (a pure union would multiply duplicates instead). When
    * `rotateTextCol` is set, each copy's text gets a rotated alphabet:
    * without it every document would gain k exact twins, and a near-dup
    * probe's OUTPUT (hence cost) would grow quadratically by definition
    * — the rotation keeps duplicate multiplicity, and so pair density,
    * at the base distribution while rows scale k-fold.
    */
  private def scaled(
      df: DataFrame, keyCols: Seq[String], k: Int,
      rotateTextCol: Option[String] = None): DataFrame = {
    val shift = 100000000L
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    (0 until k).map { i =>
      val keyed = keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * shift)))
      rotateTextCol.fold(keyed) { tc =>
        keyed.withColumn(tc, translate(col(tc), alpha, alpha.drop(i) + alpha.take(i)))
      }
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.build("graft-scaleprobe")
    import spark.implicits._

    val events = graft.suite.Registry.tbl(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"),
        round(col("value") * 100).cast("long").as("cents"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def probe(name: String, base: DataFrame, keys: Seq[String],
        rotate: Option[String] = None)(
        shape: DataFrame => DataFrame): Unit = {
      val one = base.cache(); one.count()
      val ten = scaled(base, keys, 10, rotate).cache(); ten.count()
      // warm codegen once, then measure
      shape(one).count()
      val t1 = time(shape(one).count())
      val t10 = time(shape(ten).count())
      one.unpersist(); ten.unpersist()
      println(f"SCALE $name%-24s 1x=${t1}%6.2fs 10x=${t10}%6.2fs ratio=${t10 / t1}%5.1f")
    }

    probe("agg_histogram", events, Seq("event_id")) { e =>
      e.groupBy((col("cents") / 2500).cast("long")).agg(count(lit(1)), sum(col("cents")))
    }
    probe("win_trailing_range", events, Seq("event_id", "user_id")) { e =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec")).rangeBetween(-3600, 0)
      e.select(sum(col("cents")).over(w))
    }
    probe("islands", events, Seq("event_id", "user_id")) { e =>
      graft.operators.Islands.islands(
        e.withColumn("sec", col("sec") % 100000000L), Seq("user_id"), "sec",
        maxGap = 1800L, minLen = 3L)
    }
    probe("simhash_banded", docs, Seq("doc_id"), rotate = Some("text")) { d =>
      val sig = graft.dedup.Dedup.simhash(
        graft.dedup.Dedup.docWordIds(d, "doc_id", "text"), bits = 64)
      graft.dedup.Dedup.bandedHammingPairs(sig, "doc_id", graft.dedup.Dedup.simhashCols(64),
        64, 3)
    }

    // IVF corpus-vs-corpus top-k: the cell count is the knob that decides
    // the scaling law. Fixed cells -> candidates/query grow with N ->
    // O(N^2/cells) total. Cells scaled ~sqrt(N) -> candidates/query grow
    // ~sqrt(N) -> O(N^1.5) total — the inherent floor for N queries
    // against N vectors (per-QUERY cost is the serving metric and stays
    // O(sqrt N)). Both are probed so the difference is data, not theory.
    {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val one = emb.cache(); one.count()
      val ten = scaled(emb, Seq("vec_id"), 10).cache(); ten.count()
      // the distance frame is read twice (assignment and probes):
      // persisted for the count, released after it
      def ivf(d: DataFrame, cells: Int): Long = {
        val dists = graft.similarity.Similarity.ivfDists(d, "vec_id", "embedding", cells)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try graft.similarity.Similarity.ivfTopKFrom(dists, nprobe = 2, k = 3).count()
        finally dists.unpersist()
      }
      ivf(one, 16) // codegen warm
      val t1 = time { ivf(one, 16) }
      val tFixed = time { ivf(ten, 16) }
      val tSqrt = time { ivf(ten, 51) } // 16 * sqrt(10) ≈ 50.6
      println(f"SCALE ivf_topk_fixed_cells   1x=${t1}%6.2fs 10x=${tFixed}%6.2fs ratio=${tFixed / t1}%5.1f")
      println(f"SCALE ivf_topk_sqrt_cells    1x=${t1}%6.2fs 10x=${tSqrt}%6.2fs ratio=${tSqrt / t1}%5.1f")
      one.unpersist(); ten.unpersist()
    }

    spark.stop()
  }
}
