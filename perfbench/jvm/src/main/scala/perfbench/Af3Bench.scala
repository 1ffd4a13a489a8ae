package perfbench

import java.io.File

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.{Af3Run, GraftSession}
import graft.af3.{Af3Io, Af3Params, Af3Pipeline, CifParser, CifWriter}
import graft.operators.SpatialJoin

/** AF3 workloads: a closed loop of `graft.Af3Run.main` passes over one
  * generated tree, each pass checked against the oracle.
  */
object Af3Bench {

  final case class PassResult(seconds: Double, ok: Boolean)

  /** Every file under `dir`, relative, hidden ones included. */
  def listRel(dir: File): Set[String] = {
    def go(d: File, pre: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) go(f, pre + f.getName + "/") else Seq(pre + f.getName)
      }
    go(dir, "").toSet
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The pass's outputs match the oracle: same file set, same report. */
  def check(out: File, exp: Af3Oracle.Expected): Boolean = {
    val got = listRel(out)
    val report = exp.files.find(_.endsWith(".csv")).map(new File(out, _))
    got == exp.files && report.exists { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      lines.headOption.contains(exp.header) && lines.tail.sorted == exp.rows
    }
  }

  def setupOnce(): Double = {
    val t0 = System.nanoTime()
    val s = GraftSession.build("perfbench-setup")
    s.range(1).count()
    val dt = (System.nanoTime() - t0) / 1e9
    s.stop()
    dt
  }

  def pass(tree: File, out: File, flags: Seq[String], exp: Af3Oracle.Expected): PassResult = {
    deleteTree(out); out.mkdirs()
    val args = Seq("--input_dir", tree.getPath, "--output_dir", out.getPath) ++ flags
    val t0 = System.nanoTime()
    val ran = try { Af3Run.main(args.toArray); true } catch {
      case e: Throwable => System.err.println(s"[perfbench] Af3Run failed: $e"); false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    PassResult(dt, ran && check(out, exp))
  }

  def untraced(in: Inputs, seconds: Int, setupReps: Int): Result = {
    val flags = Af3Gen.shape(in.workload, in.jobs).cliFlags
    val exp = in.expected
    val setups = (1 to setupReps).map(_ => setupOnce())
    // the JVM-cold pass warms the JIT; it is checked but not timed (one
    // sample per process; the traced run reports it as cold.first_pass_s)
    val cold = pass(in.tree, in.out, flags, exp)
    Stats.log(f"cold pass ${cold.seconds}%.2f s ok=${cold.ok}")
    val warm = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    while (warm.size < 2 || (warm.map(_.seconds).sum < seconds && warm.size < 200)) {
      warm += pass(in.tree, in.out, flags, exp)
      Stats.log(f"warm pass ${warm.last.seconds}%.2f s ok=${warm.last.ok}")
    }
    val all = cold +: warm.toSeq
    val passS = Stats.median(warm.map(_.seconds).toSeq)
    val failed = all.count(!_.ok)
    Result(all.size, failed, Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("pass_s", passS, "s"),
      Metric("jobs_per_s", exp.stats("jobs") / passS, "1/s"),
      Metric("ok_frac", 1.0 - failed.toDouble / all.size, "fraction"),
      Metric("peak_rss_mb", Stats.peakRssMb, "MB")))
  }

  /** One pass of the stage functions `Af3Run.main` composes, in its
    * order, each forced and cached once inside its own span.
    */
  def tracedPass(in: Inputs, tr: Tracer): Boolean = {
    val flags = Af3Gen.shape(in.workload, in.jobs).cliFlags
    val o = Af3Oracle.params(flags)
    val p = Af3Params(o.poi, o.partner, o.maxPae, o.minIptm, o.minPtm, o.minRes, o.maxDist)
    val dir = in.tree.getPath
    val out = in.out
    deleteTree(out); out.mkdirs()
    val outBase = out.getPath
    val ok = tr.span("pass") {
      val spark = tr.span("GraftSession.build") {
        val s = GraftSession.build("graft-af3-run")
        tr.attach(s)
        s.range(1).count()
        s
      }
      val summaries = tr.span("Af3Io.readSummaries") {
        val s = Af3Io.readSummaries(spark, dir); s.count(); s
      }
      val nSummaries = summaries.count().toDouble
      val binders = tr.span("Af3Pipeline.gate") {
        val b = Af3Pipeline.gate(summaries, p).select("job_dir").distinct().cache(); b.count(); b
      }
      tr.extra("Af3Pipeline.gate", "pass_ratio", binders.count() / math.max(1.0, nSummaries))
      val atomsObs = Observation("atoms_parsed")
      val atoms = tr.span("CifParser.readAtomsDf") {
        val a = CifParser.readAtomsDf(spark, dir)
          .observe(atomsObs, count(lit(1)).as("n"))
          .join(broadcast(binders), Seq("job_dir"), "left_semi")
          .cache()
        a.count(); a
      }
      val parsed = atomsObs.get("n").asInstanceOf[Long].toDouble
      tr.extra("CifParser.readAtomsDf", "atoms_parsed", parsed)
      tr.extra("CifParser.readAtomsDf", "useful_ratio", atoms.count() / math.max(1.0, parsed))
      val model0 = atoms.filter(col("model_idx") === 0)
      val info = tr.span("Af3Pipeline.chainInfo") {
        val i = Af3Pipeline.chainInfo(model0).cache(); i.count(); i
      }
      val paeObs = Observation("pae_cells")
      val interacting = tr.span("Af3Pipeline.interactingResidues") {
        val pae = Af3Io.readPaeLong(spark, dir)
          .observe(paeObs, count(lit(1)).as("n"))
          .join(broadcast(binders), Seq("job_dir"), "left_semi")
        val r = Af3Pipeline.interactingResidues(pae, info, p).cache(); r.count(); r
      }
      val cells = paeObs.get("n").asInstanceOf[Long].toDouble
      tr.extra("Af3Pipeline.interactingResidues", "pae_cells", cells)
      tr.extra("Af3Pipeline.interactingResidues", "useful_ratio",
        in.expected.stats("poi_partner_cells") / math.max(1.0, cells))
      val contacts = tr.span("Af3Pipeline.contactPairs") {
        val c = Af3Pipeline.contactPairs(model0, interacting, p).cache(); c.count(); c
      }
      val (cand, within) = tr.span(GridCount)(gridPairs(model0, interacting, p))
      tr.extra("Af3Pipeline.contactPairs", "candidate_pairs", cand)
      tr.extra("Af3Pipeline.contactPairs", "pair_yield", within / math.max(1.0, cand))
      val (members, islands) = tr.span("Af3Pipeline.islands") {
        val m = Af3Pipeline.partnerIslandMembers(contacts).cache(); m.count()
        val i = Af3Pipeline.interactionIslands(contacts).cache(); i.count()
        (m, i)
      }
      val report = tr.span("Af3Pipeline.report") {
        val r = Af3Pipeline.report(islands, info, p).cache(); r.count(); r
      }
      tr.span("CifWriter.writeReportCsv")(CifWriter.writeReportCsv(report, outBase, p))
      val interactionDir = s"$outBase/Interaction_cif_files_PAE_${p.maxPaeCutoff}_maxdist_${p.maxDist}"
      val overlayDir = s"$outBase/Overlays_Interaction_cif_files_PAE_${p.maxPaeCutoff}_maxdist_${p.maxDist}"
      tr.span("CifWriter.interactionCif") {
        CifWriter.writeKeyedText(
          CifWriter.renderCif(Af3Pipeline.interactionCifAtoms(atoms, members, p),
            concat(col("job_dir"), lit("_interaction"))),
          interactionDir, ".cif", withCifHeader = true)
      }
      tr.span("CifWriter.overlayCif") {
        CifWriter.writeKeyedText(
          CifWriter.renderCif(Af3Pipeline.modelExtractAtoms(atoms, members, p),
            concat(col("job_dir"), lit("/model_"), col("model_idx"))),
          overlayDir, ".cif", withCifHeader = true)
      }
      tr.span("CifWriter.pml") {
        CifWriter.writeKeyedText(
          Af3Pipeline.pymolScripts(atoms)
            .select(concat(col("job_dir"), lit("/align_and_save")).as("file_key"),
              lit(1L).as("ord"), col("script").as("line")),
          overlayDir, ".pml")
      }
      spark.stop()
      true
    }
    def filesIn(d: String, suffix: String): Seq[File] =
      listRel(new File(d)).toSeq.filter(_.endsWith(suffix)).map(new File(d, _))
    val inter = filesIn(s"$outBase/Interaction_cif_files_PAE_${p.maxPaeCutoff}_maxdist_${p.maxDist}", ".cif")
    val over = s"$outBase/Overlays_Interaction_cif_files_PAE_${p.maxPaeCutoff}_maxdist_${p.maxDist}"
    for ((span, fs) <- Seq("CifWriter.interactionCif" -> inter,
        "CifWriter.overlayCif" -> filesIn(over, ".cif"), "CifWriter.pml" -> filesIn(over, ".pml"))) {
      tr.extra(span, "files_written", fs.size)
      tr.extra(span, "bytes_written", fs.map(_.length()).sum.toDouble)
    }
    ok && check(out, in.expected)
  }

  private val GridCount = "count.gridPairs"

  /** Grid candidates and within-ε pairs of the contact join, counted
    * after its span with SpatialJoin's own cell size.
    */
  private def gridPairs(model0: org.apache.spark.sql.DataFrame,
      interacting: org.apache.spark.sql.DataFrame, p: Af3Params): (Double, Double) = {
    val isAA = col("res_name").isin(graft.functions.Scalars.extendedAA: _*)
    val cs = SpatialJoin.cellSize(p.maxDist)
    def cells(df: org.apache.spark.sql.DataFrame, pre: String) = df.select(col("job_dir"),
      col("x").as(pre + "x"), col("y").as(pre + "y"), col("z").as(pre + "z"),
      SpatialJoin.cellCol(col("x"), cs).as("cx"), SpatialJoin.cellCol(col("y"), cs).as("cy"),
      SpatialJoin.cellCol(col("z"), cs).as("cz"))
    val poi = cells(model0.filter(col("chain") === p.poiChain && isAA), "q_")
    val partner = cells(model0.filter(col("chain") === p.partnerChain && isAA)
      .join(interacting.withColumnRenamed("partner_res", "res_id"), Seq("job_dir", "res_id"),
        "left_semi"), "p_")
    val nb = partner.crossJoin(broadcast(
      partner.sparkSession.range(27).select((col("id") / 9 - 1).cast("long").as("dx"),
        (col("id") / 3 % 3 - 1).cast("long").as("dy"), (col("id") % 3 - 1).cast("long").as("dz"))))
      .select(col("job_dir"), col("p_x"), col("p_y"), col("p_z"), (col("cx") + col("dx")).as("cx"),
        (col("cy") + col("dy")).as("cy"), (col("cz") + col("dz")).as("cz"))
    val cand = nb.join(poi, Seq("job_dir", "cx", "cy", "cz"))
      .withColumn("d2", (col("p_x") - col("q_x")) * (col("p_x") - col("q_x")) +
        (col("p_y") - col("q_y")) * (col("p_y") - col("q_y")) +
        (col("p_z") - col("q_z")) * (col("p_z") - col("q_z")))
      .agg(count(lit(1)).as("n"), sum(when(col("d2") <= p.maxDist * p.maxDist, 1L).otherwise(0L)).as("w"))
      .head()
    (cand.getLong(0).toDouble, Option(cand.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L).toDouble)
  }

  /** Traced AF3 pass, after `warmups` untraced passes (the first one is
    * the JVM-cold pass, the last one the untraced baseline of the tracing
    * overhead). Returns the checked passes, the failed ones and the
    * measured per-layer values.
    */
  def traced(in: Inputs, tr: Tracer, warmups: Int): (Int, Int, Map[String, Double]) = {
    val flags = Af3Gen.shape(in.workload, in.jobs).cliFlags
    val warm = (1 to warmups).map(_ => pass(in.tree, in.out, flags, in.expected))
    val ok = tracedPass(in, tr)
    val spans = Af3Spans.flatMap(s => tr.metrics(s).map { case (k, v) => s"$s.$k" -> v })
    // the grid count is the benchmark's own query, not part of the pass
    val passS = tr.seconds("pass") - tr.seconds(GridCount)
    val overhead = warm.lastOption.map { u =>
      Map("trace.pass_s" -> passS, "trace.untraced_pass_s" -> u.seconds,
        "trace.overhead_s" -> (passS - u.seconds))
    }.getOrElse(Map.empty)
    val cold = warm.headOption.map(c => "cold.first_pass_s" -> c.seconds)
    val all = warm.map(_.ok) :+ ok
    (all.size, all.count(!_), spans.toMap ++ overhead ++ cold)
  }

  val Af3Spans = Seq("GraftSession.build", "Af3Io.readSummaries", "Af3Pipeline.gate",
    "CifParser.readAtomsDf", "Af3Pipeline.chainInfo", "Af3Pipeline.interactingResidues",
    "Af3Pipeline.contactPairs", "Af3Pipeline.islands", "Af3Pipeline.report",
    "CifWriter.writeReportCsv", "CifWriter.interactionCif", "CifWriter.overlayCif", "CifWriter.pml")

  /** Keep exactly the declared per-layer metrics (0 when a layer did not run). */
  def perLayer(m: Map[String, Double]): Seq[Metric] =
    Layers.all.map { case (name, unit) => Metric(name, m.getOrElse(name, 0.0), unit) }
}
