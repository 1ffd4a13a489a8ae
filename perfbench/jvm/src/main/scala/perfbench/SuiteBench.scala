package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.{Bench, Budget, GraftSession}
import graft.suite.{Artifacts, Registry}

/** `suite_heads`: a fixed subset of the query registry over generated
  * tables. Set-up is the spill wipe `graft.Bench` does plus the artifact
  * builds; a pass is one lap of `fn(spark, dir).count()` over the subset,
  * with `Bench.resetCaches` between laps.
  */
object SuiteBench {

  /** A driver-looped head, then a rewrite-driven join that reads a set-up
    * artifact (the FastSS deletion-variant index).
    */
  val Heads = Seq("sim_pca_power")
  val Queries: Seq[String] = Heads :+ "join_entity_resolution"

  /** The artifact builds the subset reads (`sim_pca_power` builds its own
    * Gram cells on first use, so the cold lap pays for them).
    */
  val SetupSteps: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fastss_variants" -> graft.suite.ExtrasQueries.prebuildFastss)

  private lazy val defs = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    Queries.map(n => byName.getOrElse(n, sys.error(s"query $n is not registered")))
  }

  private val timeoutSec = 60L

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Build a session, run a trivial job, wipe this data dir's artifact
    * spill and build the artifacts. Returns the session and the times.
    */
  def setup(dir: String, tr: Option[Tracer]): (SparkSession, Double, Seq[(String, Double)]) = {
    def sp[A](name: String)(f: => A): A = tr.fold(f)(_.span(name)(f))
    val t0 = System.nanoTime()
    val spark = sp("GraftSession.build") {
      val s = GraftSession.build("graft-bench")
      tr.foreach(_.attach(s))
      s.range(1).count()
      s
    }
    val steps = (("artifact_spill_wipe", (s: SparkSession, d: String) => Artifacts.wipeSpill(s, d)) +:
      SetupSteps).map { case (name, f) =>
      val t = System.nanoTime()
      sp(s"setup.$name")(f(spark, dir))
      Stats.log(f"setup $name ${secs(t)}%.2f s")
      name -> secs(t)
    }
    (spark, secs(t0), steps)
  }

  /** One lap: (per-query seconds, per-query ok). */
  def lap(spark: SparkSession, dir: String, tr: Option[Tracer]): Seq[(String, Double, Boolean)] =
    defs.map { q =>
      val t0 = System.nanoTime()
      def run() = Budget.runBounded(spark, q.name, timeoutSec)(q.fn(spark, dir).count())
      val r = tr.fold(run())(_.span(q.name)(run()))
      val ok = r match {
        case Budget.Ok(_) => true
        case other => System.err.println(s"[perfbench] ${q.name}: $other"); false
      }
      Stats.log(f"query ${q.name} ${secs(t0)}%.2f s ok=$ok")
      (q.name, secs(t0), ok)
    }

  def untraced(dataDir: File, work: File, seconds: Int, setupReps: Int): Result = {
    val dir = dataDir.getPath
    val sessions = (1 to setupReps).map { i =>
      val (s, t, _) = setup(dir, None)
      Stats.log(f"setup $t%.2f s")
      if (i < setupReps) s.stop()
      (s, t)
    }
    val spark = sessions.last._1
    // warm-up, checked but not timed: the JVM-cold lap (JIT, lazy
    // artifacts; the traced run reports it as cold.first_pass_s) and one
    // more lap, which still runs 10-20% slower than the laps after it
    val warmup = Seq(lap(spark, dir, None), { Bench.resetCaches(spark); lap(spark, dir, None) })
    val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double, Boolean)]]
    while (warm.size < 2 || (warm.map(_.map(_._2).sum).sum < seconds && warm.size < 100)) {
      Bench.resetCaches(spark)
      warm += lap(spark, dir, None)
    }
    val laps = warmup ++ warm.toSeq
    // result check, outside the timed laps: one more run of each query,
    // written as parquet for the DuckDB oracle compare
    Bench.resetCaches(spark)
    val checkDir = new File(work, "check")
    Af3Bench.deleteTree(checkDir)
    val written = defs.map { q =>
      q.name -> (Budget.runBounded(spark, q.name, timeoutSec) {
        q.fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"${checkDir.getPath}/${q.name}")
      } match { case Budget.Ok(_) => true; case _ => false })
    }
    val oracle = defs.map(q => q.name -> q.oracle.getOrElse(""))
    java.nio.file.Files.writeString(new File(work, "oracle_sql.json").toPath,
      oracle.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))
    spark.stop()
    val execs = laps.flatten
    val failed = execs.count(!_._3) + written.count(!_._2)
    val passS = Stats.median(warm.map(_.map(_._2).sum).toSeq)
    Result(execs.size + written.size, failed, Seq(
      Metric("setup_s", Stats.median(sessions.map(_._2)), "s"),
      Metric("pass_s", passS, "s"),
      Metric("jobs_per_s", Queries.size / passS, "1/s"),
      Metric("ok_frac", 1.0 - failed.toDouble / (execs.size + written.size), "fraction"),
      Metric("peak_rss_mb", Stats.peakRssMb, "MB")),
      // executions per query, so a query the oracle rejects fails all of them
      execCounts = Queries.map(n => n -> (execs.count(_._1 == n) + 1)).toMap)
  }

  /** Traced suite lap after `warmLaps` untraced laps (the first one is the
    * JVM-cold lap, the last one the untraced baseline of the tracing
    * overhead). Returns the executions, the failed ones and the measured
    * per-layer values.
    */
  def traced(dataDir: File, tr: Tracer, warmLaps: Int): (Int, Int, Map[String, Double]) = {
    val dir = dataDir.getPath
    val (spark, _, steps) = setup(dir, Some(tr))
    val untraced = (1 to warmLaps).map { _ =>
      val t0 = System.nanoTime()
      val l = lap(spark, dir, None)
      Bench.resetCaches(spark)
      (l, secs(t0))
    }
    val traced = tr.span("suite")(lap(spark, dir, Some(tr)))
    spark.stop()
    val suite = tr.metrics("suite")
    val m = scala.collection.mutable.Map.empty[String, Double]
    Seq("plan_s", "task_s", "idle_core_s", "jobs", "shuffle_bytes", "spill_bytes")
      .foreach(k => m(s"suite.$k") = suite(k))
    for (h <- Heads; k <- Seq("s", "jobs", "plan_s")) m(s"$h.$k") = tr.metrics(h)(k)
    for ((name, _) <- steps) m(s"setup.${name}_s") = tr.seconds(s"setup.$name")
    for (k <- Seq("s", "task_s", "idle_core_s", "plan_s", "shuffle_bytes", "spill_bytes"))
      m(s"GraftSession.build.$k") = tr.metrics("GraftSession.build")(k)
    untraced.headOption.foreach { case (l, _) => m("cold.first_pass_s") = l.map(_._2).sum }
    untraced.lastOption.foreach { case (_, u) =>
      m("trace.pass_s") = tr.seconds("suite")
      m("trace.untraced_pass_s") = u
      m("trace.overhead_s") = tr.seconds("suite") - u
    }
    val all = untraced.flatMap(_._1) ++ traced
    (all.size, all.count(!_._3), m.toMap)
  }
}
