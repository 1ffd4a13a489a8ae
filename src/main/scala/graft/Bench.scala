package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.SparkSession

/** Benchmark main. Protocol (hardened round 5):
  *
  *  1. SETUP — one-time shared artifacts (dedup corpus index, bucketed
  *     join tables) built up front and itemized separately, so index
  *     cost never reads as a query regression.
  *  2. One COLD lap — per-plan codegen/JIT/file-listing cost.
  *  3. K warm laps; the reported number is the per-query MEDIAN across
  *     them (min/max kept for variance). Between laps the session cache
  *     is cleared and the shared artifacts re-pinned: queries that
  *     `.cache()` internally would otherwise accumulate ~134 frames per
  *     lap until storage eviction starts recomputing hot frames mid-lap
  *     (the observed multi-second run-to-run swings).
  *
  * A throwing query is recorded under "errors" (name -> exception) with
  * value -1 — never silently timed as if it ran.
  *
  * Budget guards (round 6, after the r5 rc=124 driver kill):
  *  - every query runs under SPARK_GRAFT_QUERY_TIMEOUT_SEC (default
  *    120 s) via job-group cancellation — a runaway plan is cancelled
  *    and recorded as an error, it cannot eat the round's wall budget;
  *  - warm-lap count is SPARK_GRAFT_WARM_LAPS (default 3) but is
  *    reduced adaptively after the cold lap so that
  *    setup + cold + laps·cold fits SPARK_GRAFT_BENCH_BUDGET_SEC
  *    (default 1500 s) — the suite sheds precision, never the run.
  */
object Bench {
  /** Between-lap cache reset: drop per-query cache accumulation, keep
    * the shared indexes warm. clearCache() only reaches SQL-cached
    * relations; localCheckpoint RDDs (BPE/CC/graph iteration pins, the
    * prefix-sum phase pin, any library-default checkpoint) live in the
    * raw persistent-RDD registry and silently accumulated across laps —
    * the r8 sf1 replay measured the SECOND warm lap up to 37x slower
    * from that memory pressure. Unpersist them all, then re-pin the
    * shared artifacts. BenchLapLeakSpec pins that a lap's checkpoint
    * pins do not survive this reset.
    */
  def resetCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    // BLOCKING unpersist: with blocking=false the block-release backlog
    // drains DURING the next lap's first queries, which then measure
    // eviction churn instead of their plans (the sf1 replay's
    // one-slow-lap pattern on the early-registry dedup/text queries).
    // The release cost belongs to the reset, not to whichever query
    // runs next.
    spark.sparkContext.getPersistentRDDs.values.foreach(r =>
      try r.unpersist(blocking = true) catch { case _: Throwable => () })
    // drain the ContextCleaner between laps: a lap leaves thousands of
    // broadcast variables (one per broadcast join) whose cleanup is
    // weak-reference-triggered — without a forced GC the cleaner bursts
    // mid-NEXT-lap and whichever query cluster is running then measures
    // the churn (the sf1 replay's one-slow-lap sim_* spread). The pause
    // belongs to the reset, not to a query.
    System.gc()
    suite.Artifacts.rewarmAll(spark)
  }

  /** Indexes (0-based) of warm laps that were GLOBALLY disturbed:
    * machine churn inflates unrelated queries together (the sf1-replay
    * pattern — one lap where even the plan-free calibration query
    * drifted), so the signal is the MEDIAN across queries of
    * "this lap's time / this query's best lap". A slow lap of one
    * query is that query's variance; a slow lap of the TYPICAL query
    * is the machine's. Threshold 1.5×: normal lap-to-lap medians sit
    * within a few percent of 1.0, while the observed disturbed laps
    * ran 2-37× — the flag marks medians no healthy lap produces.
    * Queries that errored anywhere (-1) are excluded.
    */
  def disturbedLaps(laps: Seq[Map[String, Double]]): Seq[Int] = {
    if (laps.size < 2) return Nil
    val names = laps.head.keys
      .filter(n => laps.forall(_.getOrElse(n, -1.0) > 0)).toSeq
    if (names.isEmpty) return Nil
    val best = names.map(n => n -> laps.map(_(n)).min).toMap
    laps.indices.filter { i =>
      val rs = names.map(n => laps(i)(n) / best(n)).sorted
      val medR =
        if (rs.size % 2 == 1) rs(rs.size / 2)
        else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2.0
      medR >= 1.5
    }
  }

  // JSON numbers must be locale-independent: the f-interpolator formats
  // under the DEFAULT locale (a comma-decimal locale emits `0,52`)
  private def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Cap on the result line, so a capture of the stdout tail holds it whole. */
  val MaxLine = 1000

  private def jsonString(s: String, maxChars: Int): String = "\"" +
    new String(JsonStringEncoder.getInstance.quoteAsString(s.take(maxChars))) + "\""

  /** The one stdout line of a bench run, `{"metric":"total",...}`, at
    * most [[MaxLine]] chars: the headline total, counts, up to 5 error
    * names, the disturbed laps and as many of the slowest queries'
    * medians (descending, then by name) as fit. Every list is cut where
    * the next item would break the cap; the complete per-query maps are
    * in BENCH_full.json.
    */
  def resultLine(total: Double, medians: Map[String, Double], errors: Seq[String],
      warmLaps: Int, setupSec: Double, sfDir: String, disturbed: Seq[Int]): String = {
    val qs, errs, laps = scala.collection.mutable.ArrayBuffer.empty[String]
    def line: String =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec"""" +
        s""","queries":{${qs.mkString(",")}},"queries_total_n":${medians.size}""" +
        s""","queries_in_line_n":${qs.size},"errors_n":${errors.size}""" +
        s""","error_queries":[${errs.mkString(",")}],"warm_laps":$warmLaps""" +
        s""","setup_sec":${num(setupSec, 3)},"sf":${jsonString(sfDir, 120)}""" +
        s""","disturbed_laps":[${laps.mkString(",")}],"full_file":"BENCH_full.json"}"""
    def fill(buf: scala.collection.mutable.ArrayBuffer[String], items: Seq[String]): Unit = {
      val it = items.iterator
      var fits = true
      while (fits && it.hasNext) {
        buf += it.next()
        fits = line.length <= MaxLine
        if (!fits) buf.remove(buf.size - 1)
      }
    }
    fill(errs, errors.take(5).map(jsonString(_, 80)))
    fill(laps, disturbed.map(_.toString))
    fill(qs, medians.filter(_._2 >= 0).toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => jsonString(k, 80) + ":" + num(v, 3) })
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmLapsMax =
      sys.env.get("SPARK_GRAFT_WARM_LAPS").map(_.toInt).getOrElse(3)
    val queryTimeoutSec =
      sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_SEC").map(_.toLong).getOrElse(120L)
    val benchBudgetSec =
      sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toDouble).getOrElse(1500.0)
    val spark = GraftSession.build("graft-bench")
    // JVM/codegen warmup so the first measured query doesn't absorb
    // session startup (~4-5s on this box)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // ---- setup phase ----
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    def setupStep(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f; setup(name) = secs(t0)
    }
    // Read every input table end-to-end once (all columns) so the OS
    // page cache and parquet footers are hot BEFORE the cold lap: the
    // r5 A/B runs showed the single-shot cold lap swinging 1.4-2x with
    // nothing but page-cache state (137.7s vs 222.7s, same code, warm
    // medians within 0.5%). With I/O state pinned here, "cold" measures
    // what the protocol defines: per-plan codegen/JIT/listing cost.
    // honest setup accounting (r12 verdict #5): the artifact parquet
    // spill under GRAFT_ARTIFACT_DIR survives across JVMs, so on a warm
    // tmp/ the "build" steps below would record a parquet READ (~13 s)
    // while the true one-time index cost (~200 s class on a throttled
    // box) silently left the measurement. Wiping THIS dir's spills
    // first makes every bench run's setup_sec a real build number;
    // reruns stay comparable because they all rebuild. (Override:
    // SPARK_GRAFT_KEEP_SPILL=1 for local iteration loops where setup
    // honesty doesn't matter.)
    if (!sys.env.get("SPARK_GRAFT_KEEP_SPILL").contains("1"))
      setupStep("artifact_spill_wipe")(suite.Artifacts.wipeSpill(spark, sfDir))
    setupStep("page_cache_warm") {
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.foreach { t =>
        val df = suite.Registry.tbl(spark, sfDir, t)
        df.select(org.apache.spark.sql.functions.xxhash64(df.columns.map(df.col): _*))
          .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))).count()
      }
    }
    setupStep("dedup_corpus_index")(suite.DedupQueries.prebuildArtifacts(spark, sfDir))
    setupStep("ivf_index")(suite.SimilarityQueries.prebuildArtifacts(spark, sfDir))
    setupStep("bucketed_tables")(suite.ExtrasQueries.prebuildBucketed(spark, sfDir))
    setupStep("fastss_variants")(suite.ExtrasQueries.prebuildFastss(spark, sfDir))
    setupStep("graph_edges")(suite.GraphQueries.prebuildArtifacts(spark, sfDir))
    setupStep("text_index")(suite.TextQueries.prebuildArtifacts(spark, sfDir))

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // ---- environment fingerprint (round 10, VERDICT #4) ----
    // Cross-round bench deltas have twice been pure machine state (r9:
    // 190.3 vs 178.1 s at identical head). Record enough here to detect
    // uniform inflation mechanically: load average at start, available
    // memory, and the page-cache warm-up timing (a fixture-only, plan-
    // free I/O pass — its drift calibrates I/O-side churn the same way
    // f_range_label's entry in `queries` calibrates CPU-side churn).
    def memAvailableKb: Long =
      try {
        val src = scala.io.Source.fromFile("/proc/meminfo")
        try src.getLines().collectFirst {
          case l if l.startsWith("MemAvailable:") =>
            l.split("\\s+")(1).toLong
        }.getOrElse(-1L)
        finally src.close()
      } catch { case _: Throwable => -1L }
    val loadAvgStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val memAvailStartKb = memAvailableKb

    // Block-manager storage occupancy (bytes in use across executors).
    // Recorded at each lap start: the widest queries measure whatever
    // storage state their predecessors left (the sim_hard_negatives lap
    // spread hypothesis — co-resident artifact pressure); this makes
    // the pressure VISIBLE per lap instead of inferred.
    def storageUsedBytes: Long = {
      val st = spark.sparkContext.getExecutorMemoryStatus
      st.values.map { case (max, remaining) => max - remaining }.sum
    }
    val lapStorageStart = scala.collection.mutable.ArrayBuffer[Long]()

    def lap(): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = Budget.runBounded(spark, name, queryTimeoutSec) {
          fn(spark, sfDir).count()
        } match {
          case Budget.Ok(_) => true
          case Budget.Failed(msg) => errors(name) = msg; false
          case Budget.TimedOut(stuck) =>
            errors(name) = s"TIMEOUT after ${queryTimeoutSec}s (cancelled" +
              (if (stuck) ", worker stuck in planning" else "") + ")"
            false
        }
        name -> (if (ok) secs(t0) else -1.0)
      }

    val setupAndColdT0 = System.nanoTime()
    lapStorageStart += storageUsedBytes
    val cold = lap()
    // fit the warm phase to the remaining wall budget: a warm lap costs
    // at most a cold lap, so laps = floor(remaining / coldLapSec),
    // clamped to [1, warmLapsMax]. Shedding laps costs median precision;
    // the alternative — an rc=124 kill — costs the whole round.
    val coldLapSec = cold.values.filter(_ >= 0).sum
    val spentSec = setup.values.sum + secs(setupAndColdT0)
    val lapsFit =
      if (coldLapSec <= 0) warmLapsMax
      else ((benchBudgetSec - spentSec) / coldLapSec).toInt
    // sf >= 1 replays keep a 3-lap floor: an even warm-lap count has
    // twice let ONE globally disturbed lap contaminate the median
    // (SCALE.md round-10 — a 518 s intermediate replay from a 2-lap
    // median); with 3+ laps a single disturbed lap can never be the
    // median, only a flagged outlier. Budget shedding still applies
    // at sf < 1 where laps are cheap and plentiful anyway.
    val sfGe1 = """sf(\d+(?:\.\d+)?)""".r.findFirstMatchIn(
      new java.io.File(sfDir).getName)
      .exists(_.group(1).toDouble >= 1.0)
    // floor respects an EXPLICIT lower SPARK_GRAFT_WARM_LAPS (the env
    // var stays the operator override); what it refuses is the BUDGET
    // fit silently shedding an sf>=1 replay below 3 laps
    val warmFloor = if (sfGe1) math.min(3, warmLapsMax) else 1
    val WarmLaps = math.max(warmFloor, math.min(warmLapsMax, lapsFit))
    if (WarmLaps < warmLapsMax)
      System.err.println(s"[bench] budget: ${WarmLaps} warm laps (of " +
        s"$warmLapsMax) fit in ${benchBudgetSec}s after ${spentSec.toInt}s " +
        s"setup+cold with ${coldLapSec.toInt}s cold lap")
    val warmLaps = (1 to WarmLaps).map { _ =>
      resetCaches(spark)
      lapStorageStart += storageUsedBytes
      lap()
    }
    val disturbed = disturbedLaps(warmLaps)
    if (disturbed.nonEmpty)
      System.err.println(s"[bench] disturbed warm laps (median query " +
        s">=1.5x its best lap): ${disturbed.mkString(",")} — medians " +
        "below include them; re-run or raise SPARK_GRAFT_WARM_LAPS")

    def stat(pick: Seq[Double] => Double): Map[String, Double] =
      cold.keys.map { name =>
        val vs = warmLaps.map(_(name))
        name -> (if (vs.contains(-1.0)) -1.0 else pick(vs.sorted))
      }.toMap
    // TRUE median: for an even lap count, the mean of the middle two.
    // vs(size/2) alone picks the UPPER middle — at the sf1 replay's 2
    // warm laps that reported every query's WORST lap as its "median"
    // (dedup_ngram_jaccard: laps 1.19 s / 13.19 s reported as 13.19,
    // a 22× scale ratio that was pure lap accounting, not the plan)
    val med = stat { vs =>
      if (vs.size % 2 == 1) vs(vs.size / 2)
      else (vs(vs.size / 2 - 1) + vs(vs.size / 2)) / 2.0
    }
    val mn = stat(_.head)
    val mx = stat(_.last)

    def fmt(m: Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + num(v, 4) }.mkString("{", ",", "}")
    def fmtS(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => "\"" + k + "\":\"" + v.replace("\"", "'") + "\"" }
        .mkString("{", ",", "}")

    val total = med.values.filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec"""" +
        s""","queries":${fmt(med)},"queries_min":${fmt(mn)},"queries_max":${fmt(mx)}""" +
        s""","warm_laps":$WarmLaps,"cold_value":${num(cold.values.filter(_ >= 0).sum, 3)}""" +
        s""","queries_cold":${fmt(cold)}""" +
        s""","setup_sec":${num(setup.values.sum, 3)},"setup":${fmt(setup.toMap)}""" +
        s""","errors":${fmtS(errors)},"sf":"$sfDir"""" +
        s""","disturbed_laps":[${disturbed.mkString(",")}]""" +
        s""","env":{"load_avg_start":${num(loadAvgStart, 2)}""" +
        s""","mem_available_start_kb":$memAvailStartKb""" +
        s""","mem_available_end_kb":$memAvailableKb""" +
        s""","load_avg_end":${num(java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage.toDouble, 2)}""" +
        s""","storage_used_at_lap_start_bytes":[${lapStorageStart.mkString(",")}]}}"""
    // the per-query detail goes to the file only: stdout carries the
    // one result line below, printed last
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_full.json"), json + "\n")
    spark.stop()
    println(resultLine(total, med, errors.keys.toSeq, WarmLaps, setup.values.sum,
      sfDir, disturbed))
    if (errors.nonEmpty) sys.exit(1)
  }
}
