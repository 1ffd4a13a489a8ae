package graft.af3

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.input_file_name

import graft.SparkSpec
import graft.functions.Scalars

/** The in-task gate ([[Af3Io.TaskState]]'s `summaries` +
  * [[Af3Pipeline.passesGate]] over the summaries [[Af3Jobs.jobFiles]]
  * groups) against the DataFrame gate over Spark's own scan of the
  * summaries, `Af3Pipeline.gate(readSummaries(..))`: over an edge
  * corpus and a grid of parameters, both must pass the same jobs, and
  * the reader, which [[Af3Io.readSummaries]] reads with, must read every
  * summary as the scan does.
  */
class SummaryGateSpec extends SparkSpec {

  /** The reference: Spark's file-index scan of the summaries under
    * `tree`, with [[Af3Io]]'s schema and options, keyed by the parent
    * directory of `input_file_name`.
    */
  private def readSummaries(tree: String): DataFrame =
    spark.read.schema(Af3Io.summarySchema)
      .options(Af3Io.summaryOptions ++ Map("recursiveFileLookup" -> "true",
        "pathGlobFilter" -> Af3Io.summaryGlob))
      .json(tree)
      .withColumn("job_dir", Scalars.parentDirName(input_file_name()))

  private val pae = "[[0.5, 3.0], [3.1, 0.6]]"

  /** (job dir, file name, file bytes). */
  private val corpus: Seq[(String, String, Array[Byte])] = Seq(
    "plain" -> s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""",
    "weak" -> s"""{"iptm": 0.2, "ptm": 0.3, "chain_pair_pae_min": [[0.5, 30.0], [30.1, 0.6]]}""",
    // corrupt and truncated files
    "corrupt" -> """{"iptm": 0.85, "ptm": , "chain_pair_pae_min": [[0.5]]}""",
    "truncated" -> s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5, 3.0], [3.1""",
    "empty" -> "",
    "blank" -> " \n ",
    "trailing" -> s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae} x""",
    // wrong types
    "iptm_string" -> s"""{"iptm": "high", "ptm": 0.8, "chain_pair_pae_min": $pae}""",
    "pae_string" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": "oops"}""",
    "pae_flat" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [0.5, 3.0]}""",
    "pae_cell_string" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5, "3"], [3.1, 0.6]]}""",
    "iptm_nested" -> s"""{"iptm": [0.85], "ptm": 0.8, "chain_pair_pae_min": $pae}""",
    "iptm_int" -> s"""{"iptm": 1, "ptm": 0, "chain_pair_pae_min": $pae}""",
    // missing or null keys: iptm and ptm count as 0 (py:82-83)
    "no_iptm" -> s"""{"ptm": 0.8, "chain_pair_pae_min": $pae}""",
    "no_ptm" -> s"""{"iptm": 0.85, "chain_pair_pae_min": $pae}""",
    "no_scores" -> s"""{"chain_pair_pae_min": $pae}""",
    "null_iptm" -> s"""{"iptm": null, "ptm": 0.8, "chain_pair_pae_min": $pae}""",
    "no_pae" -> """{"iptm": 0.85, "ptm": 0.8}""",
    "null_pae" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": null}""",
    // 1x1, ragged, null rows and cells, chains up to E
    "one_by_one" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5]]}""",
    "ragged" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5], [3.1, 0.6]]}""",
    "null_row" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [null, [3.1, 0.6]]}""",
    "null_cell" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5, null], [3.1, 0.6]]}""",
    "five_chains" -> ("""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": """ +
      (0 until 5).map(i => (0 until 5).map(j => s"${i + j}.0").mkString("[", ", ", "]"))
        .mkString("[", ", ", "]") + "}"),
    // values at the cutoffs, signed zeros and non-finite values
    "at_cutoff" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5, 15.0], [3.0, 0.6]]}""",
    "below_cutoff" -> """{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": [[0.5, 14.999999999999998], [15.000000000000002, 0.6]]}""",
    "neg_zero" -> s"""{"iptm": -0.0, "ptm": -0.0, "chain_pair_pae_min": [[0.5, -0.0], [0.0, 0.6]]}""",
    "nan_bare" -> """{"iptm": NaN, "ptm": 0.8, "chain_pair_pae_min": [[0.5, NaN], [-Infinity, 0.6]]}""",
    "nan_string" -> """{"iptm": "NaN", "ptm": "Infinity", "chain_pair_pae_min": [[0.5, "-Infinity"], [1.0, 0.6]]}""",
    // duplicate and unknown keys
    "dup_iptm" -> s"""{"iptm": 0.1, "ptm": 0.8, "chain_pair_pae_min": $pae, "iptm": 0.9}""",
    "unknown_keys" -> s"""{"chain_iptm": [0.8, 0.8], "iptm": 0.85, "meta": {"a": [1]}, "ptm": 0.8, "chain_pair_pae_min": $pae}""",
    // top-level arrays and scalars
    "top_array" -> s"""[{"iptm": 0.2, "ptm": 0.8, "chain_pair_pae_min": $pae}, {"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}]""",
    "top_array_mixed" -> s"""[{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}, 5]""",
    "top_scalar" -> "42"
  ).map { case (job, text) => (job, s"${job}_summary_confidences_0.json", text.getBytes(UTF_8)) } ++
    Seq(
      // latin-1 bytes in a value and in a key, read as UTF-8
      "latin1_value" -> s"""{"name": "Protéine", "iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""",
      "latin1_key" -> s"""{"é": 1, "iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}"""
    ).map { case (job, text) => (job, s"${job}_summary_confidences_0.json", text.getBytes(ISO_8859_1)) } ++
    Seq(
      ("utf16", "utf16_summary_confidences_0.json",
        s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""".getBytes("UTF-16")),
      // two summaries in one dir: one passes
      ("two", "a_summary_confidences_0.json",
        """{"iptm": 0.2, "ptm": 0.8, "chain_pair_pae_min": [[0.5, 30.0], [30.1, 0.6]]}""".getBytes(UTF_8)),
      ("two", "b_summary_confidences_0.json",
        s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""".getBytes(UTF_8)),
      // hidden files and dirs: neither gate reads them
      ("hidden", "._hidden_summary_confidences_0.json",
        s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""".getBytes(UTF_8)),
      ("_tmp", "tmp_summary_confidences_0.json",
        s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""".getBytes(UTF_8)),
      // no summary glob match
      ("other", "other_summary_confidences_1.json",
        s"""{"iptm": 0.85, "ptm": 0.8, "chain_pair_pae_min": $pae}""".getBytes(UTF_8)))

  private lazy val tree: String = {
    val root = Files.createTempDirectory("graft_summary_corpus")
    for ((job, name, bytes) <- corpus) {
      val d = Files.createDirectories(root.resolve(job))
      Files.write(d.resolve(name), bytes)
    }
    root.toString
  }

  private def jobs: Seq[Af3Jobs.JobFiles] =
    Af3Jobs.jobFiles(Af3Io.bundleFiles(Af3Io.TaskState(spark).conf, tree))

  private val params = Seq(
    Af3Params(),
    Af3Params(poiChain = "B", partnerChain = "A"),
    Af3Params(poiChain = "A", partnerChain = "A"),
    Af3Params(poiChain = "A", partnerChain = "E"),
    Af3Params(poiChain = "E", partnerChain = "D"),
    Af3Params(poiChain = "Z"),
    Af3Params(partnerChain = "b"),
    Af3Params(minIptmCutoff = 0.5, minPtmCutoff = 0.75),
    Af3Params(minIptmCutoff = 0.85, minPtmCutoff = 0.8),
    Af3Params(minIptmCutoff = 1e-9),
    Af3Params(minIptmCutoff = -0.0, minPtmCutoff = -1.0),
    Af3Params(maxPaeCutoff = 3.0),
    Af3Params(maxPaeCutoff = 0.0),
    Af3Params(maxPaeCutoff = Double.NaN),
    Af3Params(maxPaeCutoff = Double.PositiveInfinity),
    Af3Params(minIptmCutoff = Double.NaN),
    Af3Params(minPtmCutoff = Double.NegativeInfinity, maxPaeCutoff = -1.0))

  test("the in-task gate passes the jobs Af3Pipeline.gate(readSummaries) passes") {
    val state = Af3Io.TaskState(spark)
    val summaries = readSummaries(tree)
    for (p <- params) {
      val want = Af3Pipeline.gate(summaries, p).select("job_dir").collect()
        .map(_.getString(0)).toSet
      val got = jobs.filter(_.summaries.exists(u => state.summaries.read(state.conf, u).exists(
        Af3Pipeline.passesGate(_, p)))).map(_.job).toSet
      assert(got === want, s"params $p")
    }
    // the corpus exercises both outcomes under the default parameters
    val binders = Af3Pipeline.gate(summaries, Af3Params()).select("job_dir").collect()
      .map(_.getString(0)).toSet
    assert(Set("plain", "two", "top_array", "no_iptm", "latin1_value", "neg_zero",
      "below_cutoff").subsetOf(binders))
    assert((Set("weak", "corrupt", "truncated", "iptm_string", "pae_string", "one_by_one",
      "ragged", "null_cell", "at_cutoff", "hidden", "_tmp", "tmp", "other") & binders).isEmpty)
  }

  test("the summary reader reads every corpus file as readSummaries does") {
    import org.apache.spark.sql.catalyst.InternalRow
    def cells(r: InternalRow): Seq[Any] = Seq(
      if (r.isNullAt(0)) null else java.lang.Double.doubleToRawLongBits(r.getDouble(0)),
      if (r.isNullAt(1)) null else java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      if (r.isNullAt(2)) null else {
        val m = r.getArray(2)
        (0 until m.numElements()).map(i => if (m.isNullAt(i)) null else {
          val row = m.getArray(i)
          (0 until row.numElements()).map(j =>
            if (row.isNullAt(j)) null else java.lang.Double.doubleToRawLongBits(row.getDouble(j)))
        })
      },
      r.isNullAt(3))
    val want = readSummaries(tree).queryExecution.toRdd
      .map(r => r.getUTF8String(4).toString -> cells(r)).collect().toSeq
      .groupMap(_._1)(_._2).map { case (j, rs) => j -> rs.toSet }
    val state = Af3Io.TaskState(spark)
    val got = jobs.map(j =>
        j.job -> j.summaries.flatMap(u => state.summaries.read(state.conf, u).map(cells)).toSet)
      .filter(_._2.nonEmpty).toMap
    assert(got === want)
    // an empty or blank file has no row in either reader
    assert(got.keySet === corpus.map(_._1).toSet -- Set("hidden", "_tmp", "other", "empty",
      "blank"))
  }

  test("readSummaries gives the schema and rows of Spark's scan") {
    val got = Af3Io.readSummaries(spark, tree)
    val want = readSummaries(tree)
    assert(got.schema === want.schema)
    // Double.toString tells apart every value but NaN payloads
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    assert(rows(got) === rows(want))
  }
}
