package graft.af3

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A local filesystem under its own scheme whose rename of the final
  * report file reports failure the way Hadoop does: `false`, no
  * exception. Every other rename (Spark's own output commit) succeeds.
  */
class ReportRenameFailsFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("renamefails:///")
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.startsWith("interaction_analysis_") && super.rename(src, dst)
}

/** A local filesystem under its own scheme whose deletes report failure
  * the way Hadoop does: `false`, no exception, nothing deleted. A rename
  * onto a `.cif` file fails the same way; every other rename succeeds.
  */
class DeleteRefusedFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("deleterefused:///")
  override def delete(f: Path, recursive: Boolean): Boolean = false
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.endsWith(".cif") && super.rename(src, dst)
}

/** A local filesystem under a scheme that only the session's Hadoop conf
  * maps to an implementation.
  */
class SessionOnlyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("sessiononly:///")
}

class CifWriterSpec extends SparkSpec {
  import spark.implicits._

  test("writeKeyedText writes through a filesystem known only to the session's Hadoop conf") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.sessiononly.impl", classOf[SessionOnlyFs].getName)
    // no cached instance to fall back on: each task must resolve the
    // scheme from the conf it was shipped
    hc.set("fs.sessiononly.impl.disable.cache", "true")
    val out = Files.createTempDirectory("graft_keyed_text").toFile
    val rendered = Seq(("job_a", 2, "a2"), ("job_a", 1, "a1"), ("job_b/model_0", 1, "b1"))
      .toDF("file_key", "ord", "line")

    CifWriter.writeKeyedText(rendered, s"sessiononly://${out.getPath}", ".txt")

    def read(name: String): Seq[String] =
      Files.readAllLines(new File(out, name).toPath).toArray.toSeq.map(_.toString)
    assert(read("job_a.txt") === Seq("a1", "a2"))
    assert(read("job_b/model_0.txt") === Seq("b1"))
    // every task-attempt temp file was renamed into place
    assert(out.list().toSet === Set("job_a.txt", "job_b"))
  }

  private def fixed(x: Double, digits: Int): String = {
    val sb = new java.lang.StringBuilder
    CifWriter.appendFixed(sb, x, digits)
    sb.toString
  }

  private def javaFixed(x: Double, digits: Int): String =
    String.format(java.util.Locale.US, s"%.${digits}f", Double.box(x))

  test("the fixed-point formatter equals String.format on random values (seeded)") {
    val rnd = new scala.util.Random(20261018)
    (1 to 100000).foreach { _ =>
      // a 3-decimal value of up to 12 digits, either sign: the fast path
      // below 1e9, the formatter above
      val x = (rnd.nextLong() % math.pow(10, 1 + rnd.nextInt(12)).toLong) / 1000.0
      assert(fixed(x, 3) === javaFixed(x, 3), s"x=$x")
      assert(fixed(x, 2) === javaFixed(x, 2), s"x=$x")
      // a 2-decimal value
      val y = (rnd.nextLong() % math.pow(10, 1 + rnd.nextInt(11)).toLong) / 100.0
      assert(fixed(y, 2) === javaFixed(y, 2), s"y=$y")
      // any double: mostly rounding, through the formatter
      val z = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13) - 3)
      assert(fixed(z, 3) === javaFixed(z, 3), s"z=$z")
    }
  }

  test("the fixed-point formatter on ties, negative zero, non-finite and large values") {
    assert(fixed(0.125, 2) === "0.13")
    assert(fixed(1.0005, 3) === "1.001")
    assert(fixed(-0.0004, 3) === "-0.000")
    assert(fixed(-0.0, 3) === "-0.000")
    assert(fixed(-0.0, 2) === "-0.00")
    val edges = Seq(0.125, -0.125, 1.0005, -1.0005, 2.675, 0.0005, -0.0005, -0.0004, -0.0,
      0.0, -0.001, 0.001, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e9, -1e9, 1e9 - 0.001, -(1e9 - 0.001), 1e9 + 0.5, 123456789012.345, Double.MaxValue,
      Double.MinPositiveValue, -Double.MinPositiveValue)
    for (x <- edges; d <- Seq(2, 3))
      assert(fixed(x, d) === javaFixed(x, d), s"x=$x digits=$d")
  }

  test("renderCif writes a null field as its CIF unknown marker and numbers serials per file") {
    val atoms = Seq(
      CifAtom("j", 0, "A", 7, "GLY", "CA", 1.0, 2.0, 3.0, ordinal = 2, b_iso = Some(12.5)),
      CifAtom("j", 0, "A", 7, "GLY", "N", 0.5, 2.0, 3.0, ordinal = 1, occupancy = Some(1.0)),
      CifAtom("k", 0, "B", 1, "ALA", "N", 0.0, 0.0, 0.0, ordinal = 1))
      .toDF()
      .withColumn("y", when(col("ordinal") === 2, lit(null)).otherwise(col("y")))
      .withColumn("alt_id", lit(null).cast("string"))
      .withColumn("atom_name", when(col("chain") === "B", lit(null)).otherwise(col("atom_name")))
    val got = CifWriter.renderCif(atoms, col("job_dir"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      ("j", 1, "ATOM 1 ? N . GLY ? ? ? ? 0.500 2.000 3.000 1.00 ? 7 A 1"),
      ("j", 2, "ATOM 2 ? CA . GLY ? ? ? ? 1.000 ? 3.000 ? 12.50 7 A 1"),
      ("k", 1, "ATOM 1 ? ? . ALA ? ? ? ? 0.000 0.000 0.000 ? ? 1 B 1")))
  }

  test("renderCif writes every null field of a row as its CIF unknown marker") {
    val fields = Seq("group_pdb", "type_symbol", "atom_name", "alt_id", "res_name",
      "label_asym_id", "entity_id", "label_seq_id", "ins_code", "x", "y", "z", "occupancy",
      "b_iso", "res_id", "chain")
    val atoms = fields.foldLeft(Seq(CifAtom("j", 0, "A", 7, "GLY", "CA", 1.0, 2.0, 3.0,
        ordinal = 1, occupancy = Some(1.0), b_iso = Some(2.0))).toDF()) { (df, c) =>
      df.withColumn(c, lit(null).cast(df.schema(c).dataType))
    }
    assert(CifWriter.renderCif(atoms, col("job_dir"), lit(null)).collect()
      .map(_.getString(2)).toSeq === Seq("ATOM 1 ? ? . ? ? ? ? ? ? ? ? ? ? ? ?"))
  }

  /** The lines of the `_atom_site` loop of a written CIF. */
  private def atomLines(f: File): Seq[String] =
    Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString)
      .filter(l => l.startsWith("ATOM") || l.startsWith("HETATM"))

  private def atom(chain: String, res: Int, name: String, ordinal: Int): CifAtom =
    CifAtom("j", 0, chain, res, "GLY", name, res.toDouble, 0.5, -0.25, ordinal = ordinal,
      label_asym_id = s"L$chain", occupancy = Some(1.0), b_iso = Some(50.0))

  test("writeJob sorts a model whose ordinals do not ascend by (ordinal, role, res_id, name)") {
    val out = Files.createTempDirectory("graft_write_job_sort").toFile
    val o = Af3Outputs(new File(out, "inter").getPath, new File(out, "over").getPath)
    // two files of model 0: the ordinals restart, and B 3 is in no island
    val model0 = Seq(atom("A", 1, "N", 1), atom("B", 2, "CA", 2), atom("B", 3, "N", 3),
      atom("A", 2, "CA", 1), atom("B", 2, "N", 2), atom("A", 1, "CA", 3))
    assert(CifWriter.writeJob("j", Iterator(0 -> model0), Set(2), Af3Params(), o,
      spark.sparkContext.hadoopConfiguration) === 3)
    val rest = "0.500 -0.250 1.00 50.00"
    assert(atomLines(new File(out, "over/j/model_0.cif")) === Seq(
      s"ATOM 1 ? N . GLY A ? ? ? 1.000 $rest 1 A 1",
      s"ATOM 2 ? CA . GLY A ? ? ? 2.000 $rest 2 A 1",
      s"ATOM 3 ? CA . GLY B ? ? ? 2.000 $rest 2 B 1",
      s"ATOM 4 ? N . GLY B ? ? ? 2.000 $rest 2 B 1",
      s"ATOM 5 ? CA . GLY A ? ? ? 1.000 $rest 1 A 1"))
    assert(atomLines(new File(out, "inter/j_interaction.cif")) === Seq(
      s"ATOM 1 ? N . GLY LA ? ? ? 1.000 $rest 1 A 1",
      s"ATOM 2 ? CA . GLY LA ? ? ? 2.000 $rest 2 A 1",
      s"ATOM 3 ? CA . GLY LB ? ? ? 2.000 $rest 2 B 1",
      s"ATOM 4 ? N . GLY LB ? ? ? 2.000 $rest 2 B 1",
      s"ATOM 5 ? CA . GLY LA ? ? ? 1.000 $rest 1 A 1"))
  }

  test("writeJob writes an atom in both roles twice when the POI is the partner chain") {
    val out = Files.createTempDirectory("graft_write_job_roles").toFile
    val o = Af3Outputs(new File(out, "inter").getPath, new File(out, "over").getPath)
    val model0 = Seq(atom("A", 1, "N", 1), atom("A", 2, "CA", 2), atom("B", 1, "N", 3))
    CifWriter.writeJob("j", Iterator(0 -> model0), Set(1),
      Af3Params(poiChain = "A", partnerChain = "A"), o, spark.sparkContext.hadoopConfiguration)
    val rest = "0.500 -0.250 1.00 50.00"
    assert(atomLines(new File(out, "over/j/model_0.cif")) === Seq(
      s"ATOM 1 ? N . GLY A ? ? ? 1.000 $rest 1 A 1",
      s"ATOM 2 ? N . GLY B ? ? ? 1.000 $rest 1 B 1",
      s"ATOM 3 ? CA . GLY A ? ? ? 2.000 $rest 2 A 1"))
    assert(atomLines(new File(out, "inter/j_interaction.cif")) === Seq(
      s"ATOM 1 ? N . GLY LA ? ? ? 1.000 $rest 1 A 1",
      s"ATOM 2 ? N . GLY LA ? ? ? 1.000 $rest 1 A 1",
      s"ATOM 3 ? CA . GLY LA ? ? ? 2.000 $rest 2 A 1"))
  }

  test("writeReportCsv fails on a rename that returns false and keeps the report") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.renamefails.impl", classOf[ReportRenameFailsFs].getName)
    val out = Files.createTempDirectory("graft_report_rename").toFile
    val p = Af3Params()
    val report = spark.createDataFrame(Seq(("job_binder", "2-8", "CDEFGHI", "2-6", "RSTVW")))
      .toDF("folder_name", "contact_residues_poi", "contact_sequence",
        "interacting_residues_partner", "interacting_sequence")

    val err = intercept[RuntimeException] {
      CifWriter.writeReportCsv(report, s"renamefails://${out.getPath}", p)
    }
    assert(err.getMessage.contains("rename"))
    val name = s"interaction_analysis_PAE_${p.maxPaeCutoff}_max_dist_${p.maxDist}"
    assert(!new File(out, s"$name.csv").exists())
    // the part file is still on disk, in the temp dir the failure left
    val parts = Option(new File(out, s".$name.tmp").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.size === 1)
    assert(Files.readAllLines(parts.head.toPath).contains("job_binder,2-8,CDEFGHI,2-6,RSTVW"))
  }

  /** What `body` prints to stderr, and its outcome. */
  private def stderrOf[T](body: => T): (String, scala.util.Try[T]) = {
    val err = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    val outcome = try scala.util.Try(body) finally System.setErr(saved)
    (err.toString, outcome)
  }

  test("writeReportCsv logs a temp dir it cannot delete and keeps the report") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.deleterefused.impl", classOf[DeleteRefusedFs].getName)
    val out = Files.createTempDirectory("graft_report_delete").toFile
    val p = Af3Params()
    val report = spark.createDataFrame(Seq(("job_binder", "2-8", "CDEFGHI", "2-6", "RSTVW")))
      .toDF("folder_name", "contact_residues_poi", "contact_sequence",
        "interacting_residues_partner", "interacting_sequence")

    val (log, outcome) = stderrOf(
      CifWriter.writeReportCsv(report, s"deleterefused://${out.getPath}", p))
    assert(outcome.isSuccess, outcome)
    val name = s"interaction_analysis_PAE_${p.maxPaeCutoff}_max_dist_${p.maxDist}"
    assert(Files.readAllLines(new File(out, s"$name.csv").toPath)
      .contains("job_binder,2-8,CDEFGHI,2-6,RSTVW"))
    assert(new File(out, s".$name.tmp").isDirectory)
    assert(log.contains(s".$name.tmp: delete returned false"), log)
  }

  test("a keyed file whose temp cannot be deleted after a failed commit is logged") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.deleterefused.impl", classOf[DeleteRefusedFs].getName)
    val out = Files.createTempDirectory("graft_keyed_delete").toFile
    val o = Af3Outputs(s"deleterefused://${out.getPath}/inter",
      s"deleterefused://${out.getPath}/over")
    val (log, outcome) = stderrOf(CifWriter.writeJob("j", Iterator(0 -> Seq(atom("A", 1, "N", 1))),
      Set.empty, Af3Params(), o, spark.sparkContext.hadoopConfiguration))
    // the commit's failure, not the delete's, reaches the caller
    assert(outcome.failed.get.getMessage.contains("rename"), outcome)
    // the temps of both files stay, each with a line that names it
    val temps = Seq("over/.j_model_0.cif.__attempt_0", "inter/.j_interaction.cif.__attempt_0")
    for (t <- temps) {
      assert(new File(out, t).isFile, t)
      assert(log.contains(s"$t: delete returned false"), log)
    }
  }
}
