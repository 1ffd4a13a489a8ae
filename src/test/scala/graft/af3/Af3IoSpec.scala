package graft.af3

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{Af3Run, SparkSpec}

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

  test("runLog reads a summary with a mistyped field as corrupt_json, as the gate rejects it") {
    val root = Files.createTempDirectory("graft_run_log_types")
    // both are well-formed JSON: only a parse against the full schema
    // sees the wrong type
    write(root.resolve("job_iptm"), "job_iptm_summary_confidences_0.json",
      """{"iptm": "high", "ptm": 0.8, "chain_pair_pae_min": [[1.0, 2.0], [2.0, 1.0]]}""")
    write(root.resolve("job_pae"), "job_pae_summary_confidences_0.json",
      """{"iptm": 0.9, "ptm": 0.8, "chain_pair_pae_min": "oops"}""")
    assert(runLog(root.toString) === Seq(
      ("job_iptm", "job_iptm_summary_confidences_0.json", "summary", "corrupt_json"),
      ("job_pae", "job_pae_summary_confidences_0.json", "summary", "corrupt_json")))
    assert(Af3Pipeline.gate(Af3Io.readSummaries(spark, root.toString), Af3Params())
      .count() === 0L)
  }

  test("runLog leaves nothing cached in the session") {
    spark.catalog.clearCache()
    runLog(fixtureDir)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("runLog gives a 0-byte or blank summary, full_data and model file one row each") {
    val root = Files.createTempDirectory("graft_run_log_empty")
    for ((job, text) <- Seq("job_empty" -> "", "job_blank" -> " \n\t\n");
        name <- Seq("summary_confidences_0.json", "full_data_0.json", "model_0.cif"))
      write(root.resolve(job), s"${job}_$name", text)
    assert(runLog(root.toString) === Seq(
      ("job_blank", "job_blank_full_data_0.json", "full_data", "corrupt_json"),
      ("job_blank", "job_blank_model_0.cif", "cif", "no_atoms"),
      ("job_blank", "job_blank_summary_confidences_0.json", "summary", "corrupt_json"),
      ("job_empty", "job_empty_full_data_0.json", "full_data", "corrupt_json"),
      ("job_empty", "job_empty_model_0.cif", "cif", "no_atoms"),
      ("job_empty", "job_empty_summary_confidences_0.json", "summary", "corrupt_json")))
  }

  test("runLog gives a file holding a top-level array of records one row") {
    val root = Files.createTempDirectory("graft_run_log_array")
    val job = root.resolve("job_array")
    val summary = """{"iptm": 0.9, "ptm": 0.8, "chain_pair_pae_min": [[0.5, 3.0], [3.1, 0.6]]}"""
    write(job, "job_array_summary_confidences_0.json", s"[$summary, $summary]")
    // one record without pae: the file still holds one with both keys
    write(job, "job_array_full_data_0.json",
      """[{"token_res_ids": [1]}, {"pae": [[1.0]], "token_res_ids": [1]}]""")
    assert(runLog(root.toString) === Seq(
      ("job_array", "job_array_full_data_0.json", "full_data", "parsed"),
      ("job_array", "job_array_summary_confidences_0.json", "summary", "parsed")))
    // the readers keep one row per record
    assert(Af3Io.readSummaries(spark, root.toString).count() === 2L)
    assert(Af3Io.readPaeLong(spark, root.toString).count() === 1L)
  }

  test("runLog takes 1 Spark job on the fixture tree") {
    var rows = 0
    assert(sparkJobs { rows = Af3Io.runLog(spark, fixtureDir).collect().length } === 1)
    assert(rows === 11)
  }

  /** A one-job tree: the fixture binder's files in a directory `job`,
    * each renamed to start with `job` instead of `job_binder`.
    */
  private def binderCopy(job: String): Path = {
    val root = Files.createTempDirectory("graft_job_name")
    val src = Paths.get(fixtureDir, "job_binder")
    Files.createDirectories(root.resolve(job))
    Files.list(src).iterator.asScala.foreach { f =>
      val name = f.getFileName.toString
      if (!name.startsWith("."))
        Files.copy(f, root.resolve(job).resolve(job + name.stripPrefix("job_binder")))
    }
    root
  }

  for (job <- Seq("job one", "job%41"))
    test(s"a job in a directory '$job' is named '$job' by every read and by Af3Run") {
      val root = binderCopy(job).toString
      assert(Af3Io.readSummaries(spark, root).select("job_dir").distinct().collect()
        .map(_.getString(0)).toSeq === Seq(job))
      assert(Af3Io.readPaeLong(spark, root).select("job_dir").collect().map(_.getString(0)).toSeq ===
        Seq(job))
      assert(CifParser.readAtomsDf(spark, root).select("job_dir", "model_idx").distinct()
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted === (0 to 4).map(job -> _))
      assert(runLog(root).map(r => (r._1, r._2)) === Seq("full_data_0.json", "model_0.cif",
        "model_1.cif", "model_2.cif", "model_3.cif", "model_4.cif", "summary_confidences_0.json")
        .map(n => (job, s"${job}_$n")))

      val out = Files.createTempDirectory("graft_job_name_out")
      assert(Af3Run.run(spark, root, out.toString, Af3Params()) === 1L)
      val report = Files.readAllLines(out.resolve("interaction_analysis_PAE_15.0_max_dist_8.0.csv"))
        .asScala.toSeq
      assert(report.tail.map(_.split(',').head) === Seq(job))
      val inter = "Interaction_cif_files_PAE_15.0_maxdist_8.0"
      val written = Files.walk(out).iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => out.relativize(f).toString).filter(_.endsWith(".cif")).toSeq.sorted
      assert(written === ((0 to 4).map(k => s"Overlays_$inter/$job/model_$k.cif") :+
        s"$inter/${job}_interaction.cif").sorted)
    }
}
