package graft.af3

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.SparkSpec

class Af3IoSpec extends SparkSpec {

  private def runLog(dir: String): Seq[(String, String, String, String)] =
    Af3Io.runLog(spark, dir).select("job_dir", "file", "kind", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq.sorted

  private def write(dir: Path, name: String, text: String): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8))
  }

  test("runLog reports every file of the fixture tree with its status") {
    // the af3_run_log oracle rows (py:16-21 side_logging, as data)
    val expected = Seq(
      ("job_binder", "._job_binder_summary_confidences_0.json", "hidden", "skipped_hidden"),
      ("job_binder", "job_binder_model_0.cif", "cif", "parsed"),
      ("job_binder", "job_binder_model_1.cif", "cif", "parsed"),
      ("job_binder", "job_binder_model_2.cif", "cif", "parsed"),
      ("job_binder", "job_binder_model_3.cif", "cif", "parsed"),
      ("job_binder", "job_binder_model_4.cif", "cif", "parsed"),
      ("job_binder", "job_binder_full_data_0.json", "full_data", "parsed"),
      ("job_binder", "job_binder_summary_confidences_0.json", "summary", "parsed"),
      ("job_corrupt", "job_corrupt_summary_confidences_0.json", "summary", "corrupt_json"),
      ("job_latin1", "job_latin1_summary_confidences_0.json", "summary", "parsed"),
      ("job_weak", "job_weak_summary_confidences_0.json", "summary", "parsed"))
    assert(runLog(fixtureDir) === expected.sorted)
  }

  test("runLog marks a full_data without pae as missing_keys and an atom-less model as no_atoms") {
    val root = Files.createTempDirectory("graft_run_log")
    val job = root.resolve("job_edge")
    write(job, "job_edge_summary_confidences_0.json", """{"iptm": 0.9, "ptm": 0.8}""")
    // token_res_ids present, pae absent (py:111-113)
    write(job, "job_edge_full_data_0.json", """{"token_res_ids": [1, 2, 3]}""")
    // a well-formed mmCIF whose only loop is not _atom_site
    write(job, "job_edge_model_0.cif",
      """data_job_edge
        |#
        |loop_
        |_entity.id
        |_entity.type
        |1 polymer
        |#
        |""".stripMargin)
    assert(runLog(root.toString) === Seq(
      ("job_edge", "job_edge_full_data_0.json", "full_data", "missing_keys"),
      ("job_edge", "job_edge_model_0.cif", "cif", "no_atoms"),
      ("job_edge", "job_edge_summary_confidences_0.json", "summary", "parsed")))
  }
}
