package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

/** Seeded generator of AF3 job-bundle trees (plain Scala, no Spark).
  *
  * One job is a folder `<job>/` holding `<job>_summary_confidences_0.json`,
  * `<job>_full_data_0.json` (every real AF3 key: pae, contact_probs,
  * atom_plddts, token_chain_ids, atom_chain_ids, token_res_ids) and
  * `<job>_model_{0..4}.cif`. Chain A is the POI, chain B the partner plus
  * one 4-atom ligand (4 extra tokens). Job sizes come from a fixed ladder
  * over the workload's N range and the binder count is fixed, so every
  * seed yields a tree of the same size and shape; the seed decides
  * geometry, PAE values, residue types and which jobs carry the edges.
  */
object Af3Gen {

  final case class Shape(
      jobs: Int,
      nMin: Int,
      nMax: Int,
      binders: Int,
      corrupt: Int,
      noPae: Int,
      appleDouble: Int,
      cliFlags: Seq[String])

  /** Workload shapes. `jobs` overrides the job count (self-tests). */
  def shape(workload: String, jobs: Option[Int] = None): Shape = workload match {
    case "af3_focus" =>
      val j = jobs.getOrElse(2)
      Shape(j, 800, 1600, binders = j - j / 8, corrupt = 0, noPae = 0,
        appleDouble = 0, cliFlags = Nil)
    case "af3_screen" =>
      val j = jobs.getOrElse(40)
      Shape(j, 80, 300, binders = math.max(1, math.round(j * 0.15).toInt),
        corrupt = if (j >= 10) 2 else 0, noPae = if (j >= 10) 2 else 0,
        appleDouble = if (j >= 10) 3 else 1,
        cliFlags = Seq("--min_iptm_cutoff", "0.6"))
    case other => sys.error(s"no AF3 shape for workload '$other'")
  }

  private val aa3 = Array("ALA", "ARG", "ASN", "ASP", "CYS", "GLN", "GLU", "GLY",
    "HIS", "ILE", "LEU", "LYS", "MET", "PHE", "PRO", "SER", "THR", "TRP", "TYR", "VAL")

  /** Side-chain-ish atom layout around a residue centre, in milli-Å. */
  private val atomNames = Array("N", "CA", "C", "O", "CB", "CG", "CD", "CE")
  private val atomOffsets = Array(
    Array(-1200, 300, 0), Array(0, 0, 0), Array(1200, 200, 100), Array(1500, 1100, 300),
    Array(100, -1000, 1000), Array(300, -1500, 2000), Array(500, -2000, 3000),
    Array(600, -2400, 3900))

  /** One atom, coordinates in milli-Å (printed with 3 decimals). */
  final case class Atom(grp: String, chain: String, resId: Int, resName: String,
      name: String, x: Long, y: Long, z: Long, bHund: Int)

  final case class Job(name: String, lenA: Int, lenB: Int, binder: Boolean,
      corrupt: Boolean, noPae: Boolean, atoms: IndexedSeq[Atom], pae: Array[Short],
      iptmHund: Int, ptmHund: Int, paeMinHund: Int, dropPtmKey: Boolean) {
    def n: Int = lenA + lenB + 4
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def generate(workload: String, seed: Long, out: File, jobs: Option[Int] = None): Unit = {
    val sh = shape(workload, jobs)
    val rng = new java.util.SplittableRandom(mix(seed, workload.hashCode.toLong))
    def shuffled(n: Int): Array[Int] = {
      val a = Array.tabulate(n)(identity)
      for (i <- n - 1 to 1 by -1) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val ladder = Array.tabulate(sh.jobs)(k =>
      if (sh.jobs == 1) (sh.nMin + sh.nMax) / 2
      else sh.nMin + ((sh.nMax - sh.nMin).toLong * k / (sh.jobs - 1)).toInt)
    val nOrder = shuffled(sh.jobs)
    val roles = shuffled(sh.jobs)
    // roles(k) < binders -> binder; then the edge jobs among the rest
    val nonBinderEdges = shuffled(sh.jobs - sh.binders)
    out.mkdirs()
    for (k <- 0 until sh.jobs) {
      val name = f"job_$k%04d"
      val n = ladder(nOrder(k))
      val r = roles(k)
      val binder = r < sh.binders
      // the corrupt summaries sit on non-binder slots; one pae-less
      // full_data on a binder (files written, no report rows), the
      // rest on non-binders
      val nbIdx = if (binder) -1 else nonBinderEdges(r - sh.binders)
      val corrupt = !binder && nbIdx < sh.corrupt
      val noPae = (binder && sh.noPae > 0 && r == sh.binders - 1 && sh.binders > 1) ||
        (!binder && nbIdx >= sh.corrupt && nbIdx < sh.corrupt + sh.noPae - 1)
      val jobRng = new java.util.SplittableRandom(mix(seed, 1000003L * (k + 1)))
      val job = makeJob(name, n, binder, corrupt, noPae, workload, r, jobRng)
      writeJob(new File(out, name), job, jobRng)
    }
    // AppleDouble junk next to real files: must be skipped, never parsed
    val adKinds = Array("_summary_confidences_0.json", "_model_0.cif", "_full_data_0.json")
    val adJobs = shuffled(sh.jobs)
    for (i <- 0 until sh.appleDouble) {
      val name = f"job_${adJobs(i % sh.jobs)}%04d"
      val f = new File(new File(out, name), s"._$name${adKinds(i % adKinds.length)}")
      val o = new FileOutputStream(f)
      try o.write(Array[Byte](0, 5, 22, 7, ' ', 'j', 'u', 'n', 'k')) finally o.close()
    }
  }

  private def makeJob(name: String, n: Int, binder: Boolean, corrupt: Boolean, noPae: Boolean,
      workload: String, role: Int, rng: java.util.SplittableRandom): Job = {
    val tokens = n - 4
    val lenA = tokens / 2
    val lenB = tokens - lenA
    val resA = Array.fill(lenA)(aa3(rng.nextInt(aa3.length)))
    val resB = Array.fill(lenB)(aa3(rng.nextInt(aa3.length)))
    val step = 3800L // milli-Å between consecutive residue centres

    // interface: partner segments laid 5 Å above a POI window. Binders get
    // segments covering ~20% of the partner chain; non-binders a token one.
    val near = new Array[Int](lenB + 1) // partner res -> POI res it sits over (0 = far)
    val target = if (binder) math.max(3, lenB / 5) else 3
    var covered = 0
    var guard = 0
    while (covered < target && guard < 1000) {
      guard += 1
      val len = math.min(3 + rng.nextInt(8), math.max(3, target - covered))
      val b0 = 1 + rng.nextInt(math.max(1, lenB - len))
      val a0 = 1 + rng.nextInt(math.max(1, lenA - len))
      if ((b0 until b0 + len).forall(r => r <= lenB && near(r) == 0)) {
        for (i <- 0 until len) near(b0 + i) = a0 + i
        covered += len
      }
    }
    val atoms = IndexedSeq.newBuilder[Atom]
    def residue(chain: String, resId: Int, resName: String, cx: Long, cy: Long, cz: Long): Unit = {
      val nAtoms = if (resName == "GLY") 4 else 8
      for (a <- 0 until nAtoms) {
        val o = atomOffsets(a)
        def jit = rng.nextInt(601) - 300L
        atoms += Atom("ATOM", chain, resId, resName, atomNames(a),
          cx + o(0) + jit, cy + o(1) + jit, cz + o(2) + jit, 3000 + rng.nextInt(6800))
      }
    }
    for (i <- 1 to lenA) residue("A", i, resA(i - 1), step * i, 0L, 0L)
    for (i <- 1 to lenB) {
      val a = near(i)
      if (a > 0) residue("B", i, resB(i - 1), step * a + 400L, 5000L + rng.nextInt(1500), 0L)
      else residue("B", i, resB(i - 1), step * i, 30000L + rng.nextInt(4000), 20000L)
    }
    for (a <- 0 until 4)
      atoms += Atom("HETATM", "B", lenB + 1, "LIG", s"C${a + 1}", -50000L - 1500L * a,
        60000L, 60000L, 5000)

    // PAE in hundredths of Å; row i (aligned token), column j (scored token)
    val pae = new Array[Short](n * n)
    for (i <- 0 until n; j <- 0 until n) {
      val sameA = i < lenA && j < lenA
      val sameB = i >= lenA && j >= lenA
      pae(i * n + j) =
        (if (i == j) 20 + rng.nextInt(60)
         else if (sameA || sameB) 100 + rng.nextInt(900)
         else 2000 + rng.nextInt(1100)).toShort
    }
    // POI x partner block: interface columns get many low rows; decoy
    // columns get exactly min_residues (passes, `>=`) or min_residues-1
    // low rows plus one value exactly at the 15.0 cutoff (fails, strict <)
    val minRes = 5
    def lowRows(j: Int, count: Int): Unit = {
      var placed = 0
      var g = 0
      while (placed < count && g < 50 * count) {
        g += 1
        val i = rng.nextInt(lenA)
        if (pae(i * n + j) >= 1500) { pae(i * n + j) = (150 + rng.nextInt(1100)).toShort; placed += 1 }
      }
    }
    for (b <- 1 to lenB) {
      val j = lenA + b - 1
      if (near(b) > 0) lowRows(j, minRes + rng.nextInt(math.min(40, lenA - minRes)))
      else rng.nextInt(10) match {
        case 0 => lowRows(j, minRes)
        case 1 =>
          lowRows(j, minRes - 1)
          var i = rng.nextInt(lenA)
          while (pae(i * n + j) < 1500) i = (i + 1) % lenA
          pae(i * n + j) = 1500
        case _ => lowRows(j, rng.nextInt(minRes))
      }
    }
    val (iptm, paeMin) =
      if (binder) {
        // the screen's first binder sits exactly at the iptm cutoff (`>=`)
        val ip = if (workload == "af3_screen" && role == 0) 60 else 62 + rng.nextInt(33)
        (ip, 100 + rng.nextInt(1100))
      } else if (workload == "af3_screen") {
        // non-binders fail on iptm; one sits at the pae cutoff (strict <)
        if (role % 7 == 3) (80, 1500) else (20 + rng.nextInt(40), 100 + rng.nextInt(1100))
      } else (70 + rng.nextInt(20), 2000 + rng.nextInt(500))
    Job(name, lenA, lenB, binder, corrupt, noPae, atoms.result(), pae, iptm,
      55 + rng.nextInt(40), paeMin, dropPtmKey = binder && role == 1)
  }

  // ---- writers --------------------------------------------------------

  private final class Out(f: File) {
    private val o: OutputStream = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    def s(str: String): Out = { o.write(str.getBytes(US_ASCII)); this }
    def c(ch: Char): Out = { o.write(ch.toInt); this }
    def int(v: Long): Out = s(v.toString)
    /** fixed-point decimal: `v / 10^d` with exactly `d` digits */
    def fixed(v: Long, d: Int): Out = {
      val neg = v < 0
      val a = math.abs(v)
      var p = 1L; var i = 0
      while (i < d) { p *= 10; i += 1 }
      if (neg) c('-')
      int(a / p); c('.')
      val frac = (a % p).toString
      var pad = d - frac.length
      while (pad > 0) { c('0'); pad -= 1 }
      s(frac)
    }
    def close(): Unit = o.close()
  }

  private val cifHeader =
    """#
      |loop_
      |_atom_site.group_PDB
      |_atom_site.id
      |_atom_site.type_symbol
      |_atom_site.label_atom_id
      |_atom_site.label_alt_id
      |_atom_site.label_comp_id
      |_atom_site.label_asym_id
      |_atom_site.label_entity_id
      |_atom_site.label_seq_id
      |_atom_site.pdbx_PDB_ins_code
      |_atom_site.Cartn_x
      |_atom_site.Cartn_y
      |_atom_site.Cartn_z
      |_atom_site.occupancy
      |_atom_site.B_iso_or_equiv
      |_atom_site.auth_seq_id
      |_atom_site.auth_asym_id
      |_atom_site.pdbx_PDB_model_num
      |""".stripMargin

  private def writeJob(dir: File, job: Job, rng: java.util.SplittableRandom): Unit = {
    dir.mkdirs()
    val name = job.name
    val sum = new Out(new File(dir, s"${name}_summary_confidences_0.json"))
    if (job.corrupt) sum.s("{\"chain_iptm\": [0.81, 0.77], \"iptm\": 0.8")
    else {
      sum.s("{\"chain_iptm\": [").fixed(job.iptmHund + 3, 2).s(", ").fixed(job.iptmHund - 2, 2)
        .s("], \"chain_pair_iptm\": [[0.9, ").fixed(job.iptmHund, 2).s("], [")
        .fixed(job.iptmHund, 2).s(", 0.88]], \"chain_pair_pae_min\": [[0.76, ")
        .fixed(job.paeMinHund, 2).s("], [").fixed(job.paeMinHund + 37, 2)
        .s(", 0.81]], \"chain_ptm\": [0.9, 0.85], \"fraction_disordered\": 0.02, ")
        .s("\"has_clash\": 0.0, \"iptm\": ").fixed(job.iptmHund, 2)
      if (!job.dropPtmKey) sum.s(", \"ptm\": ").fixed(job.ptmHund, 2)
      sum.s(", \"ranking_score\": ").fixed(job.iptmHund + 5, 2).s("}")
    }
    sum.close()

    val n = job.n
    val model0 = job.atoms
    val full = new Out(new File(dir, s"${name}_full_data_0.json"))
    full.s("{\"atom_chain_ids\": [")
    model0.indices.foreach { k => if (k > 0) full.s(", "); full.c('"').s(model0(k).chain).c('"') }
    full.s("], \"atom_plddts\": [")
    model0.indices.foreach { k => if (k > 0) full.s(", "); full.fixed(model0(k).bHund, 2) }
    full.s("], \"contact_probs\": [")
    for (i <- 0 until n) {
      if (i > 0) full.s(", ")
      full.c('[')
      for (j <- 0 until n) {
        if (j > 0) full.s(", ")
        val v = job.pae(i * n + j)
        if (v < 800) full.s("0.9").int(v % 10) else full.s("0.0")
      }
      full.c(']')
    }
    full.s("]")
    if (!job.noPae) {
      full.s(", \"pae\": [")
      for (i <- 0 until n) {
        if (i > 0) full.s(", ")
        full.c('[')
        for (j <- 0 until n) { if (j > 0) full.s(", "); full.fixed(job.pae(i * n + j).toLong, 2) }
        full.c(']')
      }
      full.s("]")
    }
    full.s(", \"token_chain_ids\": [")
    for (t <- 0 until n) {
      if (t > 0) full.s(", ")
      full.s(if (t < job.lenA) "\"A\"" else "\"B\"")
    }
    full.s("], \"token_res_ids\": [")
    for (t <- 0 until n) {
      if (t > 0) full.s(", ")
      full.int(if (t < job.lenA) t + 1 else if (t < job.lenA + job.lenB) t - job.lenA + 1 else job.lenB + 1)
    }
    full.s("]}")
    full.close()

    for (m <- 0 until 5) {
      val cif = new Out(new File(dir, s"${name}_model_$m.cif"))
      cif.s(s"data_${name}_model_$m\n").s(cifHeader)
      var serial = 0
      model0.foreach { a =>
        serial += 1
        // later models are rigid shifts of model 0 (only model 0 feeds analysis)
        val dx = 10L * m
        cif.s(a.grp).c(' ').int(serial).c(' ').s(a.name.substring(0, 1)).c(' ').s(a.name)
          .s(" . ").s(a.resName).c(' ').s(a.chain).s(" 1 ").int(a.resId).s(" ? ")
          .fixed(a.x + dx, 3).c(' ').fixed(a.y, 3).c(' ').fixed(a.z, 3).s(" 1.00 ")
          .fixed(a.bHund, 2).c(' ').int(a.resId).c(' ').s(a.chain).s(" 1\n")
      }
      cif.s("#\n")
      cif.close()
    }
  }
}
