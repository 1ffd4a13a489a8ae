package graft.operators

import graft.SparkSpec
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Proves a layout clustered by the `graft_zorder2` key actually skips
  * data: the same 2-D range predicate over the same rows reads strictly
  * fewer rows from a z-ordered parquet table than from a
  * lexicographically sorted one, which in turn reads fewer than an
  * unclustered one — with identical query results. "Rows read" is the
  * scan operator's own numOutputRows metric: rows surviving parquet
  * row-group/page stats pruning, before Spark's residual filter.
  */
class ZorderSkipSpec extends SparkSpec {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  private def rowsRead(df: DataFrame): Long = {
    df.collect()
    scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  /** Range-partition by `keys` into 8 files, sort within each by the
    * same keys, and write parquet with 16 KiB row groups; the keys need
    * not be columns, so nothing extra lands in the files.
    */
  private def writeClustered(df: DataFrame, keys: Seq[Column], path: String): Unit =
    df.repartitionByRange(8, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite")
      .option("parquet.block.size", (16 * 1024).toString)
      .parquet(path)

  test("z-ordered layout prunes more row groups than lex sort; both beat unclustered") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")

    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // identical file count + row-group size everywhere — layout is the
    // only variable. repartition() (round-robin) destroys any incidental
    // input clustering for the baseline.
    writeClustered(li.repartition(8), Seq(lit(1)), s"$base/unclustered")
    writeClustered(li, Seq(col("l_partkey"), col("l_suppkey")), s"$base/lex")
    writeClustered(li, Seq(VectorExpressions.zorder2(col("l_partkey"), col("l_suppkey"))),
      s"$base/zorder")

    // both dimensions individually broad (25% each), conjunction ~6% —
    // the shape where a single-column sort can't prune on the second dim
    def sel(path: String): DataFrame =
      spark.read.parquet(path)
        .filter(col("l_partkey").between(1, 500) && col("l_suppkey").between(1, 25))

    // sort on ALL columns: the synthetic lineitem has duplicate
    // (orderkey, linenumber) pairs, so a partial sort key would leave
    // layout-dependent tie order
    val allCols = li.columns.map(col).toSeq
    val expected = sel(s"$base/unclustered").orderBy(allCols: _*).collect().toSeq
    for (layout <- Seq("lex", "zorder"))
      assert(sel(s"$base/$layout").orderBy(allCols: _*)
        .collect().toSeq === expected, s"results differ for $layout")

    val nMatch = expected.size.toLong
    val (un, lex, zo) =
      (rowsRead(sel(s"$base/unclustered")), rowsRead(sel(s"$base/lex")),
        rowsRead(sel(s"$base/zorder")))
    info(s"rows read: unclustered=$un lex=$lex zorder=$zo matching=$nMatch")
    assert(nMatch > 0 && zo >= nMatch) // sanity: a scan can't under-read
    assert(lex < un, "lex sort should prune vs unclustered")
    assert(zo < lex, "z-order should prune on BOTH dims, beating lex sort")
  }
}
