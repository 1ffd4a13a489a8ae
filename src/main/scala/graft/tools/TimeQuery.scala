package graft.tools

import graft.{GraftSession, SparkEntry}

/** Per-query timing loop: `runMain graft.tools.TimeQuery <name>[,<name>...]
  * [sfDir] [laps] [explain]` — one cold + N warm laps for the named
  * queries only, the fast feedback loop for single-operator performance
  * work (the full `graft.Bench` protocol costs ~10 minutes; this costs
  * seconds). Every lap starts with [[graft.Bench.resetCaches]], as a
  * bench lap does: a query that persists an intermediate inside its own
  * execution would otherwise read the previous lap's copy and report a
  * number the bench cannot reproduce.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val laps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.build("graft-timequery")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val doExplain = args.length > 3 && args(3) == "explain"
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      if (doExplain) fn(spark, sfDir).explain("formatted")
      val times = (0 to laps).map { _ =>
        graft.Bench.resetCaches(spark)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIMEQ $name cold=${times.head}%.3f warm=${
        times.tail.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
