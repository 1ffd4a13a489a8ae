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
