package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import perfbench.{Af3Gen, Af3Oracle}

/** `Af3Run` against an independent model of the reference semantics:
  * perfbench's `Af3Gen` writes a seeded `af3_screen`-shaped tree, this
  * spec adds the FIXTURES.md edges the generator lacks, and
  * `Af3Oracle.expected` (plain Scala, no engine code) derives the report
  * rows and the output file set, which the run must match exactly.
  *
  * Each seed mutates four distinct jobs: one loses a `model_k.cif`, one
  * `full_data` loses `token_res_ids`, one summary's `chain_pair_pae_min`
  * shrinks to 1×1 (the partner index is out of bounds), and one PAE
  * matrix is cut or grown so N ≠ Σ chain lengths. Then, where the oracle
  * keeps an island, every POI-row cell of the PAE
  * column of one interior island residue is set to exactly the cutoff:
  * the strict `<` drops that residue and splits the island. The flags
  * cycle through the defaults, `--poi_chain B --partner_chain A` (on a
  * tree whose PAE matrices are made symmetric first) and
  * `--min_iptm_cutoff 0.6`.
  */
class Af3DifferentialSpec extends SparkSpec {

  private val flagSets = Seq(
    Seq.empty[String],
    Seq("--poi_chain", "B", "--partner_chain", "A"),
    Seq("--min_iptm_cutoff", "0.6"))

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)
  private def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8))

  private def listRel(dir: File): Set[String] = {
    def go(d: File, pre: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) go(f, pre + f.getName + "/") else Seq(pre + f.getName)
      }
    go(dir, "").toSet
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def dropTokenResIds(f: File): Unit = {
    val s = read(f)
    val i = s.indexOf(", \"token_res_ids\": [")
    assert(i > 0 && s.endsWith("]}"))
    write(f, s.substring(0, i) + "}")
  }

  private def shrinkPaeMin(f: File): Unit = {
    val s = read(f)
    val t = s.replaceFirst("\"chain_pair_pae_min\": \\[\\[[^\\]]*\\], \\[[^\\]]*\\]\\]",
      "\"chain_pair_pae_min\": [[0.76]]")
    assert(t != s)
    write(f, t)
  }

  /** Rewrite the PAE matrix of one `full_data` file, cells as text. */
  private def editPae(f: File)(edit: Seq[Seq[String]] => Seq[Seq[String]]): Unit = {
    val s = read(f)
    val i = s.indexOf("\"pae\": [[") + "\"pae\": ".length
    val j = s.indexOf("]]", i) + 2
    val rows = s.substring(i + 2, j - 2).split("\\], \\[").toSeq.map(_.split(", ").toSeq)
    write(f, s.substring(0, i) + edit(rows).map(_.mkString(", ")).mkString("[[", "], [", "]]") +
      s.substring(j))
  }

  /** Cut the N×N PAE to (N+delta)² (delta < 0), or pad it with
    * below-cutoff cells (delta > 0).
    */
  private def resize(delta: Int)(rows: Seq[Seq[String]]): Seq[Seq[String]] = {
    val m = rows.size + delta
    if (delta < 0) rows.take(m).map(_.take(m))
    else rows.map(_ ++ Seq.fill(delta)("1.00")) ++ Seq.fill(delta)(Seq.fill(m)("1.00"))
  }

  /** The upper triangle mirrored: the generator plants its low PAE in
    * the A-rows × B-columns block, so with the chains swapped only a
    * symmetric matrix yields interacting residues.
    */
  private def symmetric(rows: Seq[Seq[String]]): Seq[Seq[String]] =
    rows.indices.map(i => rows.indices.map(j => if (i <= j) rows(i)(j) else rows(j)(i)))

  /** Every POI row of `col` at exactly `cutoff`. */
  private def atCutoff(poiRows: Range, col: Int, cutoff: String)(rows: Seq[Seq[String]]): Seq[Seq[String]] =
    rows.zipWithIndex.map { case (r, i) =>
      if (poiRows.contains(i) && col < r.size) r.updated(col, cutoff) else r
    }

  /** Token ranges by chain, positional as the reference's chain_lengths
    * list: standard residues count 1 token, the ligand its atoms.
    */
  private def chainRanges(model0: File): Map[String, Range] = {
    val atoms = Af3Oracle.readCif(model0)
    val lens = atoms.groupBy(_.chain).toSeq.sortBy(_._1).map { case (c, as) =>
      c -> as.groupBy(a => (a.resId, a.resName)).toSeq.map { case ((_, name), xs) =>
        if (name == "LIG") xs.size else 1 }.sum
    }
    lens.indices.map(k => lens(k)._1 ->
      (lens.take(k).map(_._2).sum until lens.take(k + 1).map(_._2).sum)).toMap
  }

  for (seed <- 1 to 20) {
    val flags = flagSets(seed % flagSets.size)
    test(s"Af3Run matches the oracle on a mutated af3_screen tree (seed $seed, " +
        s"flags '${flags.mkString(" ")}')") {
      val root = Files.createTempDirectory("graft_af3_diff").toFile
      try {
        val tree = new File(root, "tree")
        val out = new File(root, "out")
        Af3Gen.generate("af3_screen", seed.toLong, tree, jobs = Some(4 + seed % 5))
        val rng = new scala.util.Random(seed.toLong)
        val names = tree.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
        val picked = rng.shuffle(names).take(4)
        def file(job: String, suffix: String) = new File(new File(tree, job), s"${job}_$suffix")
        if (flags.contains("--poi_chain"))
          names.foreach(job => editPae(file(job, "full_data_0.json"))(symmetric))
        assert(file(picked(0), s"model_${rng.nextInt(5)}.cif").delete())
        dropTokenResIds(file(picked(1), "full_data_0.json"))
        shrinkPaeMin(file(picked(2), "summary_confidences_0.json"))
        editPae(file(picked(3), "full_data_0.json"))(resize(Seq(-6, -1, 2)(rng.nextInt(3))))

        val params = Af3Oracle.params(flags)
        // (job, first, last) of the kept partner islands
        val kept = Af3Oracle.expected(tree, params).rows.map(_.split(",")).collect {
          case Array(job, _, _, range, _) =>
            val Array(lo, hi) = range.split("-").map(_.toInt)
            (job, lo, hi)
        }.distinct
        val cut = kept.headOption.map { case (job, lo, hi) =>
          val chains = chainRanges(file(job, "model_0.cif"))
          val col = chains(params.partner).start + lo + rng.nextInt(hi - lo - 1)
          editPae(file(job, "full_data_0.json"))(
            atCutoff(chains(params.poi), col, f"${params.maxPae}%.2f"))
          s"$job column $col"
        }

        val exp = Af3Oracle.expected(tree, params)
        val (in, outDir, p) = Af3Run.parseArgs(
          (Seq("--input_dir", tree.getPath, "--output_dir", out.getPath) ++ flags).toArray)
        Af3Run.run(spark, in, outDir, p)

        assert(listRel(out) === exp.files)
        val report = Files.readAllLines(new File(out, exp.files.find(_.endsWith(".csv")).get)
          .toPath).asScala.toSeq
        assert(report.head === exp.header)
        assert(report.tail.sorted === exp.rows)
        info(s"${exp.rows.size} report rows, ${exp.files.size} files; mutated " +
          s"${picked.mkString(" ")}; at the PAE cutoff: ${cut.getOrElse("no kept island")}")
      } finally deleteTree(root)
    }
  }
}
