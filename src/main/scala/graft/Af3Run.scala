package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.af3._

/** The reference CLI, Spark-native (process_af3_outputs.py:581-598 —
  * same 8 parameters, same defaults, same outputs):
  *
  * {{{
  * runMain graft.Af3Run --input_dir DIR [--poi_chain A] [--partner_chain B]
  *   [--max_pae_cutoff 15.0] [--min_iptm_cutoff 0.0] [--min_ptm_cutoff 0.0]
  *   [--min_residues_cutoff 5] [--max_dist 8.0] [--output_dir .]
  * }}}
  *
  * Produces, like the reference (py:555-558, 578):
  *  - `interaction_analysis_PAE_{pae}_max_dist_{d}/` CSV report
  *  - `Interaction_cif_files_PAE_{pae}_maxdist_{d}/{job}_interaction.cif`
  *  - `Overlays_.../{job}/model_{k}.cif` (chains relabeled A/B) and
  *    `{job}/align_and_save.pml` PyMOL scripts
  */
object Af3Run {
  private val knownFlags = Seq("input_dir", "output_dir", "poi_chain",
    "partner_chain", "max_pae_cutoff", "min_iptm_cutoff", "min_ptm_cutoff",
    "min_residues_cutoff", "max_dist")

  /** Parse `--flag value` pairs into (input dir, output dir, params).
    * Fails fast like the reference's argparse (py:581-592): an odd arg
    * count or an unknown/typo'd flag must not silently run with defaults.
    */
  def parseArgs(args: Array[String]): (String, String, Af3Params) = {
    if (args.length % 2 != 0)
      sys.error(s"dangling argument '${args.last}'; expected --flag value pairs")
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val unknown = a.keySet.diff(knownFlags.toSet)
    if (unknown.nonEmpty)
      sys.error(s"unknown flag(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"accepted: ${knownFlags.map("--" + _).mkString(" ")}")
    val inputDir = a.getOrElse("input_dir", sys.error("--input_dir required"))
    val p = Af3Params(
      poiChain = a.getOrElse("poi_chain", "A"),
      partnerChain = a.getOrElse("partner_chain", "B"),
      maxPaeCutoff = a.getOrElse("max_pae_cutoff", "15.0").toDouble,
      minIptmCutoff = a.getOrElse("min_iptm_cutoff", "0.0").toDouble,
      minPtmCutoff = a.getOrElse("min_ptm_cutoff", "0.0").toDouble,
      minResidues = a.getOrElse("min_residues_cutoff", "5").toInt,
      maxDist = a.getOrElse("max_dist", "8.0").toDouble)
    (inputDir, a.getOrElse("output_dir", "."), p)
  }

  /** Analyze the bundles under `inputDir` and write the four outputs
    * under `outBase`. Returns the number of report rows; the stages'
    * caches are released before returning.
    */
  def run(spark: SparkSession, inputDir: String, outBase: String, p: Af3Params): Long = {
    val st = Af3Pipeline.stages(spark, inputDir, p)
    val interactionDir = s"$outBase/Interaction_cif_files_PAE_${p.maxPaeCutoff}_maxdist_${p.maxDist}"
    val overlayDir = s"$outBase/Overlays_Interaction_cif_files_PAE_${p.maxPaeCutoff}_maxdist_${p.maxDist}"

    // 1. CSV report (py:578)
    CifWriter.writeReportCsv(st.report, outBase, p)

    // 2. interaction CIFs: POI chain + island partner residues, model 0
    CifWriter.writeKeyedText(
      CifWriter.renderCif(
        Af3Pipeline.interactionCifAtoms(st.atoms, st.members, p),
        concat(col("job_dir"), lit("_interaction"))),
      interactionDir, ".cif", withCifHeader = true)

    // 3. per-model overlay CIFs, chains relabeled A/B (py:467-469)
    CifWriter.writeKeyedText(
      CifWriter.renderCif(
        Af3Pipeline.modelExtractAtoms(st.atoms, st.members, p),
        concat(col("job_dir"), lit("/model_"), col("model_idx"))),
      overlayDir, ".cif", withCifHeader = true)

    // 4. PyMOL scripts (py:472, 533-535)
    CifWriter.writeKeyedText(
      Af3Pipeline.pymolScripts(st.atoms)
        .select(concat(col("job_dir"), lit("/align_and_save")).as("file_key"),
          lit(1L).as("ord"), col("script").as("line")),
      overlayDir, ".pml")

    val n = st.report.count()
    println(s"AF3RUN report_rows=$n binders=${st.binders.count()}")
    st.unpersist()
    n
  }

  def main(args: Array[String]): Unit = {
    val (inputDir, outBase, p) = parseArgs(args)
    val spark = GraftSession.build("graft-af3-run")
    try run(spark, inputDir, outBase, p)
    finally spark.stop()
  }
}
