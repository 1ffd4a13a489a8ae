package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.af3.Af3Params

class Af3RunSpec extends SparkSpec {

  /** Every file under `dir`, relative, hidden ones included. */
  private def listRel(dir: File): Set[String] = {
    def go(d: File, pre: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) go(f, pre + f.getName + "/") else Seq(pre + f.getName)
      }
    go(dir, "").toSet
  }

  private def lines(f: File): Seq[String] = Files.readAllLines(f.toPath).asScala.toSeq

  private def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString

  /** sha256 of every output file of a default-flag run on the fixture
    * tree: the report, the interaction CIF, the overlays and the `.pml`
    * must stay byte-identical, not only the report rows.
    */
  private val goldenDigests = {
    val inter = "Interaction_cif_files_PAE_15.0_maxdist_8.0"
    val over = "Overlays_Interaction_cif_files_PAE_15.0_maxdist_8.0/job_binder"
    Map(
      "interaction_analysis_PAE_15.0_max_dist_8.0.csv" ->
        "c99f0944c5fdd810ee15719fd3cd17d35a20c94ee83f949a2917f53597279ac9",
      s"$inter/job_binder_interaction.cif" ->
        "2add3449a9ea8c1ef586b87ab48e5541c11be2c2431e710cd32facfa8ee22dff",
      s"$over/align_and_save.pml" ->
        "03693ff5fcbd3b26eb819c22a985954946f4f0928179cf477d2aa3fc806cb033",
      s"$over/model_0.cif" -> "412a8c686126804fad2c2823f2f29ef22cc6e8eea95e3dfa0e48ade690507a43",
      s"$over/model_1.cif" -> "6eb1013258d75fd686d2e4ed5cb6d3f0e37aebde19236b30b7ec9327a5d10617",
      s"$over/model_2.cif" -> "509b3602ad564273aa72805348baeac6a32cde716fa475717e4b6fe42e5eb748",
      s"$over/model_3.cif" -> "b0144440d20024ae98022efc39ac462ca8352587650f37bcc2cec7c5147f5aaa",
      s"$over/model_4.cif" -> "c732c7677a5fdd1415dd7b698811524ee2dfe866f86fffa6f76a8341a8e1c1e2")
  }

  test("run writes exactly the reference's output tree and report on the fixture tree") {
    val out = Files.createTempDirectory("graft_af3run").toFile
    val n = Af3Run.run(spark, fixtureDir, out.getPath, Af3Params())
    assert(n === 1)

    val report = "interaction_analysis_PAE_15.0_max_dist_8.0.csv"
    val inter = "Interaction_cif_files_PAE_15.0_maxdist_8.0"
    val over = "Overlays_Interaction_cif_files_PAE_15.0_maxdist_8.0/job_binder"
    assert(listRel(out) === Set(report, s"$inter/job_binder_interaction.cif",
      s"$over/align_and_save.pml") ++ (0 to 4).map(k => s"$over/model_$k.cif"))

    val got = lines(new File(out, report))
    val expected = lines(new File(fixtureDir, "expected_report.csv"))
    assert(got.head === "Folder_name,Contact_residues_POI_chain_A,Contact_sequence," +
      "Interacting_residues_Partner_chain_B,Interacting_sequence")
    assert(got.tail.sorted === expected.tail.sorted)
  }

  test("run's output files match the golden sha256 digests byte for byte") {
    val out = Files.createTempDirectory("graft_af3run_digest").toFile
    Af3Run.run(spark, fixtureDir, out.getPath, Af3Params())
    val got = listRel(out).toSeq.map(f => f -> sha256(new File(out, f))).toMap
    assert(got === goldenDigests)
  }

  test("parseArgs rejects a dangling argument and an unknown flag") {
    val dangling = intercept[RuntimeException] {
      Af3Run.parseArgs(Array("--input_dir", "in", "--max_dist"))
    }
    assert(dangling.getMessage.contains("dangling argument '--max_dist'"))
    val unknown = intercept[RuntimeException] {
      Af3Run.parseArgs(Array("--input_dir", "in", "--max_pae", "5"))
    }
    assert(unknown.getMessage.contains("unknown flag(s) max_pae"))
  }

  test("parseArgs keeps the reference's defaults and reads every flag") {
    assert(Af3Run.parseArgs(Array("--input_dir", "in")) === (("in", ".", Af3Params())))
    val (_, outDir, p) = Af3Run.parseArgs(Array("--input_dir", "in", "--output_dir", "o",
      "--poi_chain", "B", "--partner_chain", "C", "--max_pae_cutoff", "10",
      "--min_iptm_cutoff", "0.5", "--min_ptm_cutoff", "0.6",
      "--min_residues_cutoff", "3", "--max_dist", "5"))
    assert(outDir === "o")
    assert(p === Af3Params("B", "C", 10.0, 0.5, 0.6, 3, 5.0))
  }
}
