package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Each query runs under a wall-clock budget
  * (SPARK_GRAFT_QUERY_TIMEOUT_SEC, default 120 s — queries at sf0.01
  * take ~1 s; the margin is for cold JIT). On timeout its Spark job
  * group is cancelled and the QUERY is recorded failed — the RUN
  * continues, so one runaway plan can never zero the whole round's
  * correctness artifact again (round 5: one plan-exponential query
  * consumed the driver's entire budget and CORRECTNESS_r05 came back
  * empty).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.build("graft-verify")
    // the artifact spill is keyed by input, not by code: a warm spill
    // would serve artifacts an older build made to changed builders, and
    // this run would check those. Wipe this sf dir's spills first.
    suite.Artifacts.wipeSpill(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val timeoutSec =
      sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_SEC").map(_.toLong).getOrElse(120L)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.exists(n.startsWith) }
    // a write cancelled mid-flight can leave a PARTIAL parquet dir that
    // the downstream DuckDB compare would read as a (wrong) result —
    // delete it so the query reads unambiguously failed. The walk stream
    // is closed in finally and each delete is individually guarded: a
    // STUCK worker still writing into the dir (job-group cancel doesn't
    // reach not-yet-submitted jobs) can race the walk, and one racing
    // file must not abort the remaining verify loop.
    def purge(name: String): Unit = {
      val dir = Paths.get(s"$outDir/$name")
      if (Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(dir)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(p => try Files.delete(p) catch { case _: Throwable => () })
        catch { case _: Throwable => () }
        finally walk.close()
      }
    }
    val timedOut = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      Budget.runBounded(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case Budget.Ok(_) => ()
        case Budget.Failed(msg) =>
          System.err.println(s"[verify] $name failed: $msg")
        case Budget.TimedOut(stuck) =>
          purge(name)
          timedOut += name
          System.err.println(
            s"[verify] $name TIMED OUT after ${timeoutSec}s — cancelled, " +
              s"partial output removed, continuing" +
              (if (stuck) " (worker stuck in uninterruptible planning)" else ""))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // stamp the run's scale so a compare against a DIFFERENT sf dir is
    // detectable after the fact (round 7: a scale-mixed compare recorded
    // a phantom hash regression) — the comparer, or a human, can check
    // sf_dir here against the oracle's input before trusting a mismatch
    Files.writeString(Paths.get(s"$outDir/_meta.json"),
      s"""{"sf_dir": ${q(sfDir)}, "timeout_sec": $timeoutSec, """ +
        s""""n_queries": ${selected.size}, "timed_out": [${
          timedOut.map(q).mkString(", ")}]}""")
    spark.stop()
    // a worker stuck past its cancel can RECREATE a purged output dir
    // with a late-completing write; after spark.stop() no executor
    // thread can write any more, so this final sweep is authoritative
    timedOut.foreach(purge)
  }
}
