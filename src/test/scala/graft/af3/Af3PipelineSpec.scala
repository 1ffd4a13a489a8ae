package graft.af3

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class Af3PipelineSpec extends SparkSpec {
  private val p = Af3Params()

  private lazy val summaries = Af3Io.readSummaries(spark, fixtureDir)
  private lazy val stages = Af3Pipeline.stages(spark, fixtureDir, p)
  private lazy val atoms = stages.atoms
  private lazy val chains = stages.info
  private lazy val interacting = stages.interacting
  private lazy val contacts = stages.contacts

  test("gate keeps binders (incl. latin-1 fallback), drops weak and corrupt jobs") {
    val binders = Af3Pipeline.gate(summaries, p)
      .select("job_dir").collect().map(_.getString(0)).toSeq.sorted
    assert(binders === Seq("job_binder", "job_latin1"))
    assert(summaries.count() === 4) // all four discovered, one row each
  }

  test("latin-1 summary parses (lenient decode covers py:68-73's retry case)") {
    val row = summaries.filter(org.apache.spark.sql.functions.col("job_dir") === "job_latin1")
      .collect()
    assert(row.length === 1)
    assert(row.head.getAs[Double]("iptm") === 0.9)
    assert(row.head.getAs[String]("_corrupt") == null)
  }

  test("gate with unknown chain id passes nothing (py:93-94)") {
    assert(Af3Pipeline.gate(summaries, p.copy(poiChain = "Z")).count() === 0)
  }

  test("offsets are positional with the reference's bounds check (py:197-211)") {
    import spark.implicits._
    // job with chains A and C only: the fixed index of C is 2, but the
    // length list has 2 entries -> reference raises IndexError -> [],
    // so a partner_chain=C analysis must yield no interacting residues
    val info = Seq(("jx", "A", 5L, "AAAAA"), ("jx", "C", 5L, "CCCCC"))
      .toDF("job_dir", "chain", "residue_length", "sequence")
    val pae = Seq(("jx", Seq.fill(10, 10)(1.0))).toDF("job_dir", "pae")
    val out = Af3Pipeline.interactingResidues(
      pae, info, p.copy(partnerChain = "C", minResidues = 1))
    assert(out.count() === 0)

    // chains B, C with poi A: positional read -> POI range is the FIRST
    // length slot (B's tokens), exactly as the reference indexes the list
    val info2 = Seq(("jy", "B", 4L, "BBBB"), ("jy", "C", 6L, "CCCCCC"))
      .toDF("job_dir", "chain", "residue_length", "sequence")
    val pae2 = Seq(("jy", Seq.fill(10, 10)(1.0))).toDF("job_dir", "pae")
    val out2 = Af3Pipeline.interactingResidues(
      pae2, info2, p.copy(partnerChain = "B", minResidues = 1))
    // partner B -> idx 1 -> range [4, 10): residues 1..6
    assert(out2.select("partner_res").collect().map(_.getInt(0)).sorted.toSeq ===
      (1 to 6).toSeq)
  }

  test("interactingResidues completes an observe on its PAE input") {
    val obs = Observation("pae_rows")
    val pae = Af3Io.readPaeLong(spark, fixtureDir).observe(obs, count(lit(1)).as("n"))
    val info = Af3Pipeline.chainInfo(CifParser.readAtomsDf(spark, fixtureDir)
      .filter(col("model_idx") === 0))
    assert(Af3Pipeline.interactingResidues(pae, info, p).count() > 0)
    assert(Await.result(Future(obs.get), 60.seconds)("n") === 1L)
  }

  test("chain info: lengths and sequences (vs oracle CSV)") {
    val got = chains.filter(col("job_dir") === "job_binder")
      .select("chain", "residue_length", "sequence")
    val expected = spark.read.option("header", "true")
      .schema("chain STRING, residue_length BIGINT, sequence STRING")
      .csv(s"$fixtureDir/expected_chain_info.csv")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("interacting partner residues (vs oracle CSV)") {
    val got = interacting.filter(col("job_dir") === "job_binder")
      .select(col("partner_res")).orderBy("partner_res")
      .collect().map(_.getInt(0)).toSeq
    val expected = spark.read.option("header", "true").schema("partner_res INT")
      .csv(s"$fixtureDir/expected_interacting.csv")
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(got === expected)
    assert(got === Seq(2, 3, 4, 5, 6, 8, 14))
  }

  test("contact pairs (vs brute-force oracle CSV)") {
    val got = contacts.select("partner_res", "poi_res")
    val expected = spark.read.option("header", "true")
      .schema("partner_res INT, poi_res INT")
      .csv(s"$fixtureDir/expected_contacts.csv")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("full report row (vs oracle CSV)") {
    val got = stages.report
    val expected = spark.read.option("header", "true").csv(s"$fixtureDir/expected_report.csv")
    assert(got.count() === 1)
    assert(got.collect().head.toSeq ===
      Seq("job_binder", "2-8", "CDEFGHI", "2-6", "RSTVW"))
    assert(got.exceptAll(expected).isEmpty)
  }

  test("interaction CIF atoms: whole POI chain + island partner residues only") {
    val members = stages.members
    assert(members.collect().map(_.getInt(1)).toSeq.sorted === Seq(2, 3, 4, 5, 6))
    val sel = Af3Pipeline.interactionCifAtoms(atoms, members, p)
    val poiRes = sel.filter(col("chain") === "A").select("res_id").distinct().count()
    val partnerRes = sel.filter(col("chain") === "B")
      .select("res_id").distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(poiRes === 12)      // all POI residues survive
    assert(partnerRes === Seq(2, 3, 4, 5, 6)) // LIG + non-island dropped
  }

  test("model extract relabels chains across all 5 models") {
    val members = stages.members
    val ext = Af3Pipeline.modelExtractAtoms(atoms, members, p)
    assert(ext.select("chain").distinct().collect().map(_.getString(0)).toSet === Set("A", "B"))
    assert(ext.select("model_idx").distinct().count() === 5)
  }

  test("pymol script codegen matches the reference command sequence") {
    val script = Af3Pipeline.pymolScripts(atoms.filter(col("job_dir") === "job_binder"))
      .collect().head.getString(1)
    val expected =
      (0 to 4).map(i => s"load model_$i.cif, model_$i").mkString("\n") + "\n" +
        (1 to 4).map(i => s"align model_$i and chain A, model_0 and chain A").mkString("\n") +
        "\nutil.cbc()\nsave job_binder_overlay.pse"
    assert(script === expected)
  }

  test("cif writer round-trips through the parser") {
    val members = stages.members
    val sel = Af3Pipeline.interactionCifAtoms(atoms, members, p)
    val out = java.nio.file.Files.createTempDirectory("graft_cif").toString
    CifWriter.writeKeyedText(
      CifWriter.renderCif(sel, concat(col("job_dir"), lit("_interaction"))),
      out, ".cif", withCifHeader = true)
    val f = new java.io.File(out, "job_binder_interaction.cif")
    assert(f.exists())
    val reparsed = CifParser.parseAtomSite("job_binder", 0,
      new String(java.nio.file.Files.readAllBytes(f.toPath))).toList
    assert(reparsed.size.toLong === sel.count())
    assert(reparsed.filter(_.chain == "B").map(_.res_id).distinct.sorted === List(2, 3, 4, 5, 6))
  }

  test("end-to-end stages(...).report on the fixture tree") {
    val rep = Af3Pipeline.stages(spark, fixtureDir, p).report
    assert(rep.collect().map(_.toSeq).toSeq ===
      Seq(Seq("job_binder", "2-8", "CDEFGHI", "2-6", "RSTVW")))
  }

  test("af3_report's schema: names, types and nullability") {
    val rep = Af3Pipeline.stages(spark, fixtureDir, p).report
    assert(rep.schema === StructType(Seq(
      StructField("folder_name", StringType),
      StructField("contact_residues_poi", StringType, nullable = false),
      StructField("contact_sequence", StringType),
      StructField("interacting_residues_partner", StringType, nullable = false),
      StructField("interacting_sequence", StringType))))
  }

  test("the CLI's report rows equal report's DataFrame rows on edge ranges and chains") {
    import spark.implicits._
    def island(job: String, id: Long, pMin: Int, pMax: Int, contacts: (Int, Int)*) =
      PartnerIsland(job, id, pMin, pMax, pMin to pMax,
        contacts.zipWithIndex.map { case ((a, b), k) => ContactIsland(k.toLong, a, b, 3L) })
    def job(name: String, chains: Seq[(String, String)], islands: PartnerIsland*) =
      JobResult(name, chains.map { case (c, s) => ChainRow(c, s.length.toLong, s) }, Nil, Nil,
        islands, Nil)
    val ab = Seq("A" -> "ACDEFGHIKL", "B" -> "MNPQRS")
    val jobs = Seq(
      // residue numbers <= 0: substring counts a negative start from the end
      job("j_nonpositive", ab, island("j_nonpositive", 0, -4, -2, (-3, 0), (0, 2)),
        island("j_nonpositive", 1, 0, 2, (-12, -10))),
      // ranges past the end of either sequence
      job("j_past_end", ab, island("j_past_end", 0, 5, 9, (8, 14), (11, 13)),
        island("j_past_end", 2, 20, 22, (30, 32))),
      // a job lacking the partner chain, and one lacking the POI chain
      job("j_no_partner", Seq("A" -> "ACDEF"), island("j_no_partner", 0, 1, 3, (1, 3))),
      job("j_no_poi", Seq("B" -> "MNPQ"), island("j_no_poi", 0, 1, 3, (1, 3))),
      job("j_plain", ab ++ Seq("C" -> "WY"), island("j_plain", 0, 2, 4, (1, 3), (5, 9))))
    def frames(q: Af3Params) = {
      val info = jobs.flatMap(j => j.info.map(c => (j.job_dir, c.chain, c.residue_length,
        c.sequence))).toDF("job_dir", "chain", "residue_length", "sequence")
      Af3Pipeline.report(Af3Pipeline.contactIslandsOf(jobs.flatMap(_.islands).toDF()), info, q)
    }
    for (q <- Seq(p, p.copy(poiChain = "B", partnerChain = "B"),
        p.copy(poiChain = "A", partnerChain = "A"), p.copy(poiChain = "C"))) {
      val scala = Af3Pipeline.reportRowsOf(jobs, q).map(r => (0 until 5).map(r.getUTF8String(_)
        .toString))
      val df = frames(q).collect().map(r => (0 until 5).map(r.getString)).toSeq
      assert(scala.sortBy(_.mkString(",")) === df.sortBy(_.mkString(",")), q)
    }
    val rows = Af3Pipeline.reportRowsOf(jobs, p).map(r => (0 until 5).map(r.getUTF8String(_)
      .toString).mkString(","))
    assert(rows === Seq(
      "j_nonpositive,-3-0,IKL,-4--2,PQR", "j_nonpositive,0-2,ACD,-4--2,PQR",
      "j_nonpositive,-12--10,A,0-2,MNP", "j_past_end,8-14,IKL,5-9,RS", "j_past_end,11-13,,5-9,RS",
      "j_past_end,30-32,,20-22,", "j_plain,1-3,ACD,2-4,NPQ", "j_plain,5-9,FGHIK,2-4,NPQ"))
  }
}
