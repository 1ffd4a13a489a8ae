package graft.af3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.Scalars
import graft.operators.{Islands, SpatialJoinSpec}

/** The per-job kernels of the AF3 analysis tail (PAE block count,
  * in-task ε-contacts, nested islands) against the relational
  * formulations they replaced, rebuilt here: a long-form PAE count over
  * exploded cells, [[graft.operators.SpatialJoinSpec.epsJoinBrute]] and
  * [[Islands.assignIds]]. Generators run from fixed seeds; the FIXTURES.md
  * edges also get a hand-built case each.
  */
class Af3KernelsSpec extends SparkSpec {
  import spark.implicits._

  private val p = Af3Params()

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // ---- PAE block count --------------------------------------------------

  private final case class PaeJob(job: String, chains: Seq[(String, Long)],
      matrix: Seq[Seq[java.lang.Double]])

  private val paeSchema = StructType(Seq(StructField("job_dir", StringType),
    StructField("pae", ArrayType(ArrayType(DoubleType)))))

  private def paeFrame(jobs: Seq[PaeJob]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(jobs.map(j => Row(j.job, j.matrix))), paeSchema)

  private def infoFrame(jobs: Seq[PaeJob]): DataFrame =
    jobs.flatMap(j => j.chains.map { case (c, n) => (j.job, c, n, "X" * n.toInt) })
      .toDF("job_dir", "chain", "residue_length", "sequence")

  private def box(d: Double): java.lang.Double = java.lang.Double.valueOf(d)

  // cells cluster at the 15.0 cutoff; some are null or NaN
  private val cell: Gen[java.lang.Double] = Gen.frequency(
    4 -> Gen.choose(0.0, 30.0).map(box),
    4 -> Gen.oneOf(14.0, 15.0, 16.0).map(box),
    1 -> Gen.const(null),
    1 -> Gen.const(box(Double.NaN)))

  // N differs from the sum of chain lengths by -2..2; rows are ragged
  // (N-2 .. N+1 cells) and sometimes null
  private def paeJob(job: String): Gen[PaeJob] = for {
    chains <- Gen.someOf("ABCDE".map(_.toString)).map(_.toSeq.sorted)
    lens <- Gen.listOfN(chains.size, Gen.choose(1L, 5L))
    d <- Gen.choose(-2, 2)
    n = math.max(0, lens.sum.toInt + d)
    rows <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(null),
      9 -> Gen.choose(-2, 1).flatMap(e => Gen.listOfN(math.max(0, n + e), cell))))
  } yield PaeJob(job, chains.zip(lens), rows)

  private val paeParams: Gen[Af3Params] = for {
    poi <- Gen.frequency(9 -> Gen.oneOf("A", "B", "C", "D", "E"), 1 -> Gen.const("Z"))
    partner <- Gen.oneOf("A", "B", "C", "D", "E")
    cutoff <- Gen.oneOf(15.0, 14.0)
    minRes <- Gen.choose(0, 4)
  } yield p.copy(poiChain = poi, partnerChain = partner, maxPaeCutoff = cutoff,
    minResidues = minRes)

  /** The long-form count the kernel replaced: every cell a row, the
    * positional chain offsets (computed here in plain Scala) joined on,
    * then filter and count per partner column.
    */
  private def longFormInteracting(jobs: Seq[PaeJob], q: Af3Params): Set[(String, Int)] = {
    val idx = (Scalars.chainToIdx.get(q.poiChain), Scalars.chainToIdx.get(q.partnerChain))
    val off = idx match {
      case (Some(a), Some(b)) => jobs.collect {
        case j if j.chains.size > math.max(a, b) =>
          val lens = j.chains.map(_._2)
          (j.job, lens.take(a).sum, lens.take(a + 1).sum, lens.take(b).sum, lens.take(b + 1).sum)
      }
      case _ => Nil
    }
    val offDf = off.toDF("job_dir", "start_poi", "end_poi", "start_partner", "end_partner")
    paeFrame(jobs)
      .select($"job_dir", posexplode($"pae").as(Seq("i", "row")))
      .select($"job_dir", $"i", posexplode($"row").as(Seq("j", "v")))
      .join(offDf, "job_dir")
      .filter($"i" >= $"start_poi" && $"i" < $"end_poi" &&
        $"j" >= $"start_partner" && $"j" < $"end_partner" && $"v" < q.maxPaeCutoff)
      .groupBy($"job_dir", $"j", $"start_partner").agg(count(lit(1)).as("n"))
      .filter($"n" >= q.minResidues)
      .select($"job_dir", ($"j" - $"start_partner" + 1).cast("int"))
      .as[(String, Int)].collect().toSet
  }

  private def kernelInteracting(jobs: Seq[PaeJob], q: Af3Params): Seq[(String, Int)] =
    Af3Pipeline.interactingResidues(paeFrame(jobs), infoFrame(jobs), q)
      .select($"job_dir", $"partner_res").as[(String, Int)].collect().toSeq

  private def checkPaeProperty(seeds: Seq[Long]): Unit =
    for (seed <- seeds) {
      val (jobs, q) = sample(for {
        k <- Gen.choose(1, 3)
        jobs <- Gen.sequence[Seq[PaeJob], PaeJob]((1 to k).map(i => paeJob(s"job$i")))
        q <- paeParams
      } yield (jobs, q), seed)
      val got = kernelInteracting(jobs, q)
      assert(got.distinct.size === got.size, s"seed=$seed: duplicate rows")
      assert(got.toSet === longFormInteracting(jobs, q), s"seed=$seed params=$q")
    }

  test("property: PAE block count == long-form count (seeded, codegen)") {
    checkPaeProperty(1L to 30L)
  }

  test("property: PAE block count == long-form count (seeded, interpreted)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try checkPaeProperty(101L to 110L)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ones(rows: Int, cols: Int): Seq[Seq[java.lang.Double]] =
    Seq.fill(rows, cols)(box(1.0))

  test("edge: PAE exactly at the cutoff does not count; exactly min_residues hits pass") {
    // POI A = tokens 0-2, partner B = tokens 3-4
    val m = Seq(
      Seq(0.0, 0.0, 0.0, 14.9, 15.0),
      Seq(0.0, 0.0, 0.0, 14.9, 15.0),
      Seq(0.0, 0.0, 0.0, 15.0, 15.0),
      Seq.fill(5)(0.0), Seq.fill(5)(0.0)).map(_.map(box))
    val job = PaeJob("j", Seq("A" -> 3L, "B" -> 2L), m)
    assert(kernelInteracting(Seq(job), p.copy(minResidues = 2)) === Seq(("j", 1)))
    assert(kernelInteracting(Seq(job), p.copy(minResidues = 3)).isEmpty)
  }

  test("edge: N != sum of chain lengths and ragged rows: missing cells never count") {
    // chains sum to 6 tokens, the matrix has 3 rows of 6, 4 and 5 cells:
    // partner columns 3, 4, 5 have 3, 2 and 1 POI hits
    val m = Seq(6, 4, 5).map(n => Seq.fill(n)(box(1.0)))
    val job = PaeJob("j", Seq("A" -> 3L, "B" -> 3L), m)
    assert(kernelInteracting(Seq(job), p.copy(minResidues = 2)).sorted ===
      Seq(("j", 1), ("j", 2)))
    // a POI range past the last row counts only the rows that exist
    val short = PaeJob("k", Seq("A" -> 3L, "B" -> 3L), ones(2, 6))
    assert(kernelInteracting(Seq(short), p.copy(minResidues = 2)).sorted ===
      Seq(("k", 1), ("k", 2), ("k", 3)))
    assert(kernelInteracting(Seq(short), p.copy(minResidues = 3)).isEmpty)
  }

  test("edge: a partner index beyond the chain list yields no interacting residues") {
    val job = PaeJob("j", Seq("A" -> 3L, "B" -> 3L), ones(6, 6))
    assert(kernelInteracting(Seq(job), p.copy(partnerChain = "E", minResidues = 0)).isEmpty)
    assert(kernelInteracting(Seq(job), p.copy(minResidues = 0)).size === 3)
  }

  // ---- contacts ---------------------------------------------------------

  private val atomCols = Seq("job_dir", "chain", "res_id", "res_name", "x", "y", "z")

  // atoms on a 0.5 Å lattice, so pairs at exactly max_dist occur; chain C
  // and the non-amino-acid residue names must be filtered out
  private def atomsOf(job: String): Gen[Seq[(String, String, Int, String, Double, Double, Double)]] =
    Gen.listOfN(24, for {
      chain <- Gen.oneOf("A", "B", "C")
      res <- Gen.choose(1, 6)
      name <- Gen.frequency(6 -> Gen.oneOf("ALA", "GLY"), 1 -> Gen.const("MSE"),
        1 -> Gen.oneOf("HOH", "LIG"))
      x <- Gen.choose(0, 8); y <- Gen.choose(0, 8); z <- Gen.choose(0, 8)
    } yield (job, chain, res, name, x * 0.5, y * 0.5, z * 0.5))

  /** The relational contact join the kernel replaced, on the brute-force
    * ε-join.
    */
  private def bruteContacts(atoms: DataFrame, interacting: DataFrame,
      q: Af3Params): Set[(String, Int, Int)] = {
    val isAA = $"res_name".isin(Scalars.extendedAA: _*)
    val poi = atoms.filter($"chain" === q.poiChain && isAA)
      .select($"job_dir", $"res_id".as("poi_res"), $"x", $"y", $"z")
    val partner = atoms.filter($"chain" === q.partnerChain && isAA)
      .join(interacting.withColumnRenamed("partner_res", "res_id"),
        Seq("job_dir", "res_id"), "left_semi")
      .select($"job_dir", $"res_id".as("partner_res"), $"x", $"y", $"z")
    SpatialJoinSpec.epsJoinBrute(partner, poi, q.maxDist, Seq("job_dir"), "p_", "q_")
      .select($"job_dir", $"p_partner_res", $"q_poi_res")
      .as[(String, Int, Int)].collect().toSet
  }

  private def kernelContacts(atoms: DataFrame, interacting: DataFrame,
      q: Af3Params): Seq[(String, Int, Int)] =
    Af3Pipeline.contactPairs(atoms, interacting, q)
      .select($"job_dir", $"partner_res", $"poi_res").as[(String, Int, Int)].collect().toSeq

  test("property: in-task ε-contacts == brute-force relational contacts (seeded)") {
    for (seed <- 1L to 20L) {
      val (atoms, interacting, q) = sample(for {
        a1 <- atomsOf("job1")
        a2 <- atomsOf("job2")
        i1 <- Gen.someOf(1 to 7)
        i2 <- Gen.someOf(1 to 7)
        d <- Gen.oneOf(1.0, 1.5, 2.0)
        swap <- Gen.frequency(4 -> false, 1 -> true)
      } yield (a1 ++ a2, i1.map(("job1", _)) ++ i2.map(("job2", _)),
        if (swap) p.copy(poiChain = "B", partnerChain = "A", maxDist = d)
        else p.copy(maxDist = d)), seed)
      val atomsDf = atoms.toDF(atomCols: _*)
      val interDf = interacting.toSeq.toDF("job_dir", "partner_res")
      val got = kernelContacts(atomsDf, interDf, q)
      assert(got.distinct.size === got.size, s"seed=$seed: duplicate rows")
      assert(got.toSet === bruteContacts(atomsDf, interDf, q), s"seed=$seed params=$q")
    }
  }

  test("edge: an atom pair at exactly max_dist is a contact, one ulp further is not") {
    val atoms = Seq(
      ("j", "A", 1, "ALA", 0.0, 0.0, 0.0),
      ("j", "B", 1, "ALA", 8.0, 0.0, 0.0),
      ("j", "A", 2, "ALA", 0.0, 20.0, 0.0),
      ("j", "B", 2, "ALA", 0.0, 20.0, math.nextUp(8.0))).toDF(atomCols: _*)
    val interacting = Seq(("j", 1), ("j", 2)).toDF("job_dir", "partner_res")
    assert(kernelContacts(atoms, interacting, p) === Seq(("j", 1, 1)))
  }

  // ---- nested islands ---------------------------------------------------

  private def refIslands(contacts: DataFrame)
      : (Set[(String, Int)], Set[(String, Long, Int, Int, Long, Int, Int, Long)]) = {
    val ids = Islands.assignIds(contacts.select($"job_dir", $"partner_res").distinct(),
      Seq("job_dir"), "partner_res", maxGap = 1L, idCol = "p_island")
    val kept = ids.join(
      ids.groupBy($"job_dir", $"p_island").agg(min($"partner_res").as("partner_min"),
        max($"partner_res").as("partner_max"), count(lit(1)).as("p_size"))
        .filter($"p_size" >= 3),
      Seq("job_dir", "p_island"))
    val members = kept.select($"job_dir", $"partner_res").as[(String, Int)].collect().toSet
    val byIsland = contacts.join(kept, Seq("job_dir", "partner_res"))
      .select($"job_dir", $"p_island", $"partner_min", $"partner_max", $"poi_res").distinct()
    val islands = Islands.assignIds(byIsland, Seq("job_dir", "p_island"), "poi_res",
        maxGap = 2L, idCol = "c_island")
      .groupBy($"job_dir", $"p_island", $"partner_min", $"partner_max", $"c_island")
      .agg(min($"poi_res").as("contact_min"), max($"poi_res").as("contact_max"),
        count(lit(1)).as("c_size"))
      .filter($"c_size" >= 3)
      .as[(String, Long, Int, Int, Long, Int, Int, Long)].collect().toSet
    (members, islands)
  }

  private def kernelIslands(contacts: DataFrame)
      : (Seq[(String, Int)], Seq[(String, Long, Int, Int, Long, Int, Int, Long)]) = (
    Af3Pipeline.partnerIslandMembers(contacts).as[(String, Int)].collect().toSeq,
    Af3Pipeline.interactionIslands(contacts)
      .select($"job_dir", $"p_island", $"partner_min", $"partner_max", $"c_island",
        $"contact_min", $"contact_max", $"c_size")
      .as[(String, Long, Int, Int, Long, Int, Int, Long)].collect().toSeq)

  test("property: nested islands == the Islands.assignIds formulation (seeded)") {
    val contactsOf: Gen[Seq[(String, Int, Int)]] = for {
      k <- Gen.choose(1, 3)
      jobs <- Gen.sequence[Seq[Seq[(String, Int, Int)]], Seq[(String, Int, Int)]](
        (1 to k).map { i =>
          Gen.someOf(1 to 16).flatMap(ps => Gen.sequence[Seq[Seq[(String, Int, Int)]],
            Seq[(String, Int, Int)]](ps.toSeq.map(pr =>
              Gen.atLeastOne(1 to 16).map(_.toSeq.map(q => (s"job$i", pr, q))))))
            .map(_.flatten)
        })
    } yield jobs.flatten
    for (seed <- 1L to 20L) {
      val contacts = sample(contactsOf, seed).toDF("job_dir", "partner_res", "poi_res")
      val (members, islands) = kernelIslands(contacts)
      val (refMembers, refIsl) = refIslands(contacts)
      assert(members.distinct.size === members.size, s"seed=$seed")
      assert(members.toSet === refMembers, s"seed=$seed")
      assert(islands.distinct.size === islands.size, s"seed=$seed")
      assert(islands.toSet === refIsl, s"seed=$seed")
    }
  }

  test("edge: island gaps of exactly 1 and 2; islands of exactly 3 residues") {
    // partner 1,2,3: gap 1, kept with exactly 3; partner 5,7,8: the gap of
    // 2 splits it into {5} and {7,8}, both dropped. The kept island's POI
    // residues 1,3,5 (gaps of 2) form one island of exactly 3; 10 is cut
    // off by a gap of 3 and 13,14,15 form a second one.
    val contacts = Seq((1, 1), (2, 3), (3, 5), (3, 10), (1, 13), (2, 14), (3, 15),
      (5, 1), (7, 2), (8, 3)).map { case (a, b) => ("j", a, b) }
      .toDF("job_dir", "partner_res", "poi_res")
    val (members, islands) = kernelIslands(contacts)
    assert(members.sorted === Seq(("j", 1), ("j", 2), ("j", 3)))
    assert(islands.map(r => (r._3, r._4, r._6, r._7, r._8)).sorted ===
      Seq((1, 3, 1, 5, 3L), (1, 3, 13, 15, 3L)))
    assert(islands.map(r => (r._2, r._5)).sorted === Seq((0L, 0L), (0L, 2L)))
  }

  test("edge: a binder with no contacts gets no contacts, islands or report row") {
    val atoms = Seq(
      ("near", "A", 1, "ALA", 0.0, 0.0, 0.0), ("near", "A", 2, "ALA", 1.0, 0.0, 0.0),
      ("near", "A", 3, "ALA", 2.0, 0.0, 0.0),
      ("near", "B", 1, "ALA", 0.0, 1.0, 0.0), ("near", "B", 2, "ALA", 1.0, 1.0, 0.0),
      ("near", "B", 3, "ALA", 2.0, 1.0, 0.0),
      ("far", "A", 1, "ALA", 0.0, 0.0, 0.0), ("far", "B", 1, "ALA", 50.0, 0.0, 0.0))
      .toDF(atomCols: _*)
    val interacting = Seq(("near", 1), ("near", 2), ("near", 3), ("far", 1))
      .toDF("job_dir", "partner_res")
    val contacts = Af3Pipeline.contactPairs(atoms, interacting, p)
    assert(contacts.select("job_dir").distinct().as[String].collect().toSeq === Seq("near"))
    val info = Seq(("near", "A", 3L, "AAA"), ("near", "B", 3L, "GGG"),
      ("far", "A", 1L, "A"), ("far", "B", 1L, "G"))
      .toDF("job_dir", "chain", "residue_length", "sequence")
    val report = Af3Pipeline.report(Af3Pipeline.interactionIslands(contacts), info, p)
    assert(report.collect().map(_.toSeq).toSeq === Seq(Seq("near", "1-3", "AAA", "1-3", "GGG")))
    assert(Af3Pipeline.partnerIslandMembers(contacts)
      .filter($"job_dir" === "far").isEmpty)
  }
}
