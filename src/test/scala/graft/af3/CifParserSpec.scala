package graft.af3

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CifParserSpec extends SparkSpec {

  test("parses the fixture model_0 atoms exactly (vs independent oracle CSV)") {
    val atoms = CifParser.readAtoms(spark, fixtureDir)
      .filter(a => a.job_dir == "job_binder" && a.model_idx == 0)
      .toDF()
      .select("chain", "res_id", "res_name", "atom_name", "x", "y", "z")

    val expected = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$fixtureDir/expected_atoms_model0.csv")
      .select(col("chain"), col("res_id").cast("int").as("res_id"),
        col("res_name"), col("atom_name"),
        col("x").cast("double"), col("y").cast("double"), col("z").cast("double"))

    assert(atoms.count() === expected.count())
    assert(atoms.exceptAll(expected).isEmpty && expected.exceptAll(atoms).isEmpty)
  }

  test("reads all 5 models with model_idx from the filename") {
    val models = CifParser.readAtoms(spark, fixtureDir).toDF()
      .filter(col("job_dir") === "job_binder")
      .select("model_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(models.toSeq === Seq(0, 1, 2, 3, 4))
  }

  test("HETATM rows are kept, and quoted atom names un-quote (\"C1'\" -> C1')") {
    val lig = CifParser.readAtoms(spark, fixtureDir).toDF()
      .filter(col("job_dir") === "job_binder" && col("model_idx") === 0 &&
        col("res_name") === "LIG")
    assert(lig.count() === 4)
    assert(lig.select("chain").distinct().collect().map(_.getString(0)).toSeq === Seq("B"))
    assert(lig.select("atom_name").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("C1'", "C2'", "C3'", "C4'"))
    assert(lig.select("group_pdb").distinct().collect().map(_.getString(0)).toSeq ===
      Seq("HETATM"))
  }

  test("fidelity fields are captured (type_symbol, ids, occupancy, B, ordinal)") {
    val first = CifParser.readAtoms(spark, fixtureDir)
      .filter(a => a.job_dir == "job_binder" && a.model_idx == 0)
      .collect().minBy(_.ordinal)
    assert(first.ordinal === 1)
    assert(first.type_symbol === "N")
    assert(first.alt_id === ".")
    assert(first.label_asym_id === "A")
    assert(first.entity_id === "1")
    assert(first.label_seq_id === "1")
    assert(first.ins_code === "?")
    assert(first.occupancy === Some(1.0))
    assert(first.b_iso === Some(50.0))
  }

  test("tokenize honors CIF quoting rules") {
    assert(CifParser.tokenize("""ATOM 1 C "C1'" . LIG""").toSeq ===
      Seq("ATOM", "1", "C", "C1'", ".", "LIG"))
    assert(CifParser.tokenize("""'a b' c""").toSeq === Seq("a b", "c"))
    // embedded quote not followed by whitespace stays inside the token
    assert(CifParser.tokenize("""'C1'A' x""").toSeq === Seq("C1'A", "x"))
    // unterminated quote: rest of line
    assert(CifParser.tokenize("""'abc""").toSeq === Seq("abc"))
  }

  test("latin-1 CIF parses identically to its UTF-8 twin (py:36-64 fallback)") {
    val cif =
      """data_enc
        |# comment with café résumé
        |loop_
        |_atom_site.group_PDB
        |_atom_site.auth_asym_id
        |_atom_site.auth_seq_id
        |_atom_site.auth_comp_id
        |_atom_site.label_atom_id
        |_atom_site.Cartn_x
        |_atom_site.Cartn_y
        |_atom_site.Cartn_z
        |ATOM A 1 ALA N 1.0 2.0 3.0
        |""".stripMargin
    val utf8 = CifParser.parseAtomSite("j", 0,
      CifParser.decodeText(cif.getBytes(java.nio.charset.StandardCharsets.UTF_8))).toList
    val latin1 = CifParser.parseAtomSite("j", 0,
      CifParser.decodeText(cif.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))).toList
    assert(utf8 === latin1)
    assert(utf8.map(_.res_id) === List(1))
  }

  test("render -> parse is a fixed point on every fidelity field") {
    import spark.implicits._
    // names holding whitespace that Java's regex `\s` does not match (an
    // em space, a unit separator) must be quoted like an ASCII space
    val names = Map(1 -> "C\u2003A", 2 -> "C\u001FB", 3 -> "C A")
    val orig = CifParser.readAtoms(spark, fixtureDir)
      .filter(a => a.job_dir == "job_binder" && a.model_idx == 0)
      .map(a => a.copy(atom_name = names.getOrElse(a.ordinal, a.atom_name)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_rt").toString
    CifWriter.writeKeyedText(
      CifWriter.renderCif(orig.toDF(), lit("rt/rt_model_0")),
      tmp, ".cif", withCifHeader = true)
    val back = CifParser.readAtoms(spark, tmp)
    def key(a: CifAtom) = a.copy(job_dir = "")
    assert(back.collect().map(key).sortBy(_.ordinal).toSeq ===
      orig.collect().map(key).sortBy(_.ordinal).toSeq)
  }

  test("tokenize/quote round-trip holds for randomized atom names (seeded)") {
    val rnd = new scala.util.Random(42)
    // an em space and a unit separator are whitespace to the tokenizer
    val alphabet = "ABCDEFGab12'? .*\u2003\u001F"
    (1 to 500).foreach { _ =>
      val toks = (1 to (1 + rnd.nextInt(6))).map { _ =>
        val n = 1 + rnd.nextInt(6)
        (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.filter(t => !(t.contains("'") && t.contains("\""))) // CIF can't quote both
        .filter(t => t.nonEmpty && !t.head.isWhitespace && !t.last.isWhitespace)
      if (toks.nonEmpty) {
        val line = toks.map { t =>
          val sb = new java.lang.StringBuilder
          CifWriter.appendToken(sb, t)
          sb.toString
        }.mkString(" ")
        assert(CifParser.tokenize(line).toSeq === toks,
          s"line <$line> tokens ${toks.mkString("|")}")
      }
    }
  }

  test("tolerates reordered fields and unknown categories") {
    val cif =
      """data_x
        |loop_
        |_pdbx_something.a
        |_pdbx_something.b
        |1 2
        |#
        |loop_
        |_atom_site.Cartn_x
        |_atom_site.Cartn_y
        |_atom_site.Cartn_z
        |_atom_site.group_PDB
        |_atom_site.auth_asym_id
        |_atom_site.auth_seq_id
        |_atom_site.auth_comp_id
        |_atom_site.label_atom_id
        |1.5 2.5 3.5 ATOM Z 7 GLY CA
        |#
        |""".stripMargin
    val out = CifParser.parseAtomSite("j", 0, cif).toList
    assert(out === List(CifAtom("j", 0, "Z", 7, "GLY", "CA", 1.5, 2.5, 3.5,
      ordinal = 1, group_pdb = "ATOM")))
  }

  test("truncated rows and loops without coordinates are skipped, not fatal") {
    val truncated =
      """loop_
        |_atom_site.group_PDB
        |_atom_site.auth_asym_id
        |_atom_site.auth_seq_id
        |_atom_site.auth_comp_id
        |_atom_site.label_atom_id
        |_atom_site.Cartn_x
        |_atom_site.Cartn_y
        |_atom_site.Cartn_z
        |ATOM A 1 ALA N 1.0 2.0 3.0
        |ATOM A 2
        |ATOM A 3 GLY CA 4.0 5.0 6.0
        |""".stripMargin
    val kept = CifParser.parseAtomSite("j", 0, truncated).toList
    assert(kept.map(_.res_id) === List(1, 3))
    // ordinals stay dense when rows are skipped
    assert(kept.map(_.ordinal) === List(1, 2))

    val noCoords =
      """loop_
        |_atom_site.group_PDB
        |_atom_site.auth_asym_id
        |ATOM A
        |""".stripMargin
    assert(CifParser.parseAtomSite("j", 0, noCoords).isEmpty)
  }

  test("malformed numeric rows are skipped, not fatal") {
    val cif =
      """loop_
        |_atom_site.group_PDB
        |_atom_site.auth_asym_id
        |_atom_site.auth_seq_id
        |_atom_site.auth_comp_id
        |_atom_site.label_atom_id
        |_atom_site.Cartn_x
        |_atom_site.Cartn_y
        |_atom_site.Cartn_z
        |ATOM A x ALA N 0.0 0.0 0.0
        |ATOM A 2 ALA N 1.0 1.0 1.0
        |""".stripMargin
    val out = CifParser.parseAtomSite("j", 0, cif).toList
    assert(out.map(_.res_id) === List(2))
    assert(out.map(_.ordinal) === List(1))
  }

  test("readAtoms gives the schema and atoms of a binaryFile scan") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    // model files, a `*.cif` that is no model file, a `._` sibling and
    // a 0-byte model
    val jobDir = Files.createDirectories(Files.createTempDirectory("graft_cif_scan").resolve("job_x"))
    val model = Paths.get(fixtureDir, "job_binder", "job_binder_model_0.cif")
    for (name <- Seq("job_x_model_0.cif", "job_x_model_7.cif", "job_x_other.cif", "._job_x_model_1.cif"))
      Files.copy(model, jobDir.resolve(name))
    Files.write(jobDir.resolve("job_x_model_2.cif"), Array.emptyByteArray)
    for (dir <- Seq(fixtureDir, jobDir.getParent.toString)) {
      // the reference: Spark's file-index scan of the model bytes
      val want = spark.read.format("binaryFile")
        .options(Map("recursiveFileLookup" -> "true", "pathGlobFilter" -> "*.cif")).load(dir)
        .select("path", "content").as[(String, Array[Byte])]
        .flatMap { case (path, bytes) => CifParser.modelOf(path).iterator.flatMap {
          case (job, m) => CifParser.parseAtomSite(job, m, CifParser.decodeText(bytes)) } }
        .toDF()
      val got = CifParser.readAtomsDf(spark, dir)
      assert(got.schema === want.schema)
      assert(got.collect().map(_.toString).sorted.toSeq === want.collect().map(_.toString).sorted.toSeq)
    }
  }
}
