package perfbench

import java.io.File
import java.nio.file.Files

/** Independent oracle for `graft.Af3Run` (plain Scala: no Spark, no
  * `graft` code). It reads a job-bundle tree itself and derives the
  * expected CSV report rows and the expected output file set, following
  * the reference semantics in FIXTURES.md / SURVEY.md:
  *
  *  - gate: iptm/ptm default to 0 when missing and pass on `>=`; the
  *    POI x partner `chain_pair_pae_min` passes on strict `<`; corrupt
  *    JSON or an out-of-range chain index is a non-binder;
  *  - chain lengths: standard amino acids count 1 token, other residues
  *    their atom count; chains ordered by id, A-E mapped to 0-4;
  *  - a partner token passes when strictly-below-cutoff PAE cells over
  *    the POI rows number at least `min_residues`;
  *  - contacts: squared distance <= max_dist^2 over model-0 atoms (grid
  *    buckets, exact check);
  *  - islands (gap 1, size >= 3) over contacted partner residues, then
  *    islands (gap 2, size >= 3) over each island's POI contacts.
  */
object Af3Oracle {

  final case class Params(poi: String = "A", partner: String = "B",
      maxPae: Double = 15.0, minIptm: Double = 0.0, minPtm: Double = 0.0,
      minRes: Int = 5, maxDist: Double = 8.0)

  /** Parse the CLI flags the benchmark passes to Af3Run. */
  def params(flags: Seq[String]): Params =
    flags.grouped(2).foldLeft(Params()) {
      case (p, Seq("--min_iptm_cutoff", v)) => p.copy(minIptm = v.toDouble)
      case (p, Seq("--min_ptm_cutoff", v)) => p.copy(minPtm = v.toDouble)
      case (p, Seq("--max_pae_cutoff", v)) => p.copy(maxPae = v.toDouble)
      case (p, Seq("--min_residues_cutoff", v)) => p.copy(minRes = v.toInt)
      case (p, Seq("--max_dist", v)) => p.copy(maxDist = v.toDouble)
      case (p, Seq("--poi_chain", v)) => p.copy(poi = v)
      case (p, Seq("--partner_chain", v)) => p.copy(partner = v)
      case (_, other) => sys.error(s"oracle: unsupported flag ${other.mkString(" ")}")
    }

  final case class Expected(
      header: String,
      rows: Seq[String],
      files: Set[String],
      /** input jobs, and the POI x partner PAE cells of binder jobs */
      stats: Map[String, Double])

  // ---- minimal JSON reader ----------------------------------------------

  final class JsonError(msg: String) extends Exception(msg)

  /** Values: Map[String, Any], Vector[Any], Array[Double] (all-number
    * arrays), Double, String, Boolean, null. Top-level keys outside
    * `keep` (when given) are checked for balance but not materialized.
    */
  def parseJson(s: String, keep: Option[Set[String]] = None): Any = {
    var i = 0
    var depth = 0
    def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    def fail(m: String) = throw new JsonError(s"$m at $i")
    def value(): Any = {
      ws()
      if (i >= s.length) fail("eof")
      s.charAt(i) match {
        case '{' =>
          i += 1; val m = Map.newBuilder[String, Any]; ws()
          if (i < s.length && s.charAt(i) == '}') { i += 1; return m.result() }
          depth += 1
          var more = true
          while (more) {
            ws(); val k = str(); ws()
            if (i >= s.length || s.charAt(i) != ':') fail("expected :")
            i += 1
            if (depth == 1 && keep.exists(!_.contains(k))) skip() else m += k -> value()
            ws()
            if (i >= s.length) fail("eof in object")
            s.charAt(i) match {
              case ',' => i += 1
              case '}' => i += 1; more = false
              case _ => fail("expected , or }")
            }
          }
          depth -= 1
          m.result()
        case '[' =>
          i += 1; val b = scala.collection.mutable.ArrayBuffer.empty[Any]; ws()
          if (i < s.length && s.charAt(i) == ']') { i += 1; return Vector.empty }
          var more = true
          while (more) {
            b += value(); ws()
            if (i >= s.length) fail("eof in array")
            s.charAt(i) match {
              case ',' => i += 1
              case ']' => i += 1; more = false
              case _ => fail("expected , or ]")
            }
          }
          if (b.forall(_.isInstanceOf[Double])) b.map(_.asInstanceOf[Double]).toArray
          else b.toVector
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
          if (st == i) fail("unexpected char")
          s.substring(st, i).toDouble
      }
    }
    /** Step over one value, checking only bracket balance and strings. */
    def skip(): Unit = {
      ws()
      var open = 0
      var done = false
      while (!done) {
        if (i >= s.length) fail("eof in skipped value")
        s.charAt(i) match {
          case '"' => str(); done = open == 0
          case '[' | '{' => open += 1; i += 1
          case ']' | '}' if open > 0 => open -= 1; i += 1; done = open == 0
          case ',' | ']' | '}' if open == 0 => done = true
          case _ => i += 1
        }
      }
    }
    def lit(w: String, v: Any): Any =
      if (s.startsWith(w, i)) { i += w.length; v } else fail(s"expected $w")
    def str(): String = {
      if (i >= s.length || s.charAt(i) != '"') fail("expected string")
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case c => sb.append(c)
          }
        } else sb.append(s.charAt(i))
        i += 1
      }
      if (i >= s.length) fail("unterminated string")
      i += 1
      sb.toString
    }
    val v = value(); ws()
    if (i != s.length) fail("trailing data")
    v
  }

  // ---- mmCIF _atom_site reader -------------------------------------------

  final case class Atom(chain: String, resId: Int, resName: String, x: Double, y: Double, z: Double)

  private def tokens(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < line.length) {
      while (i < line.length && line.charAt(i).isWhitespace) i += 1
      if (i < line.length) {
        val q = line.charAt(i)
        if (q == '\'' || q == '"') {
          var j = i + 1
          while (j < line.length && !(line.charAt(j) == q &&
            (j + 1 == line.length || line.charAt(j + 1).isWhitespace))) j += 1
          out += line.substring(i + 1, math.min(j, line.length)); i = j + 1
        } else {
          val st = i
          while (i < line.length && !line.charAt(i).isWhitespace) i += 1
          out += line.substring(st, i)
        }
      }
    }
    out.toArray
  }

  def readCif(f: File): Seq[Atom] = {
    val lines = new String(Files.readAllBytes(f.toPath), "ISO-8859-1").linesIterator.map(_.trim).toVector
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    val atoms = Vector.newBuilder[Atom]
    var k = 0
    while (k < lines.length) {
      if (lines(k) == "loop_" && k + 1 < lines.length && lines(k + 1).startsWith("_atom_site.")) {
        fields.clear(); k += 1
        while (k < lines.length && lines(k).startsWith("_atom_site.")) {
          fields += lines(k).stripPrefix("_atom_site."); k += 1
        }
        def ix(names: String*) = names.map(fields.indexOf).find(_ >= 0).getOrElse(-1)
        val (iG, iC, iR, iN, iX, iY, iZ) = (ix("group_PDB"), ix("auth_asym_id", "label_asym_id"),
          ix("auth_seq_id", "label_seq_id"), ix("auth_comp_id", "label_comp_id"),
          ix("Cartn_x"), ix("Cartn_y"), ix("Cartn_z"))
        while (k < lines.length && lines(k).nonEmpty && !lines(k).startsWith("#") &&
          !lines(k).startsWith("_") && !lines(k).startsWith("loop_") && !lines(k).startsWith("data_")) {
          val t = tokens(lines(k))
          if (t.length > Seq(iG, iC, iR, iN, iX, iY, iZ).max && (t(iG) == "ATOM" || t(iG) == "HETATM"))
            atoms += Atom(t(iC), t(iR).toInt, t(iN), t(iX).toDouble, t(iY).toDouble, t(iZ).toDouble)
          k += 1
        }
      } else k += 1
    }
    atoms.result()
  }

  // ---- the reference semantics ---------------------------------------------

  private val seq1 = Map(
    "ALA" -> 'A', "ARG" -> 'R', "ASN" -> 'N', "ASP" -> 'D', "CYS" -> 'C',
    "GLN" -> 'Q', "GLU" -> 'E', "GLY" -> 'G', "HIS" -> 'H', "ILE" -> 'I',
    "LEU" -> 'L', "LYS" -> 'K', "MET" -> 'M', "PHE" -> 'F', "PRO" -> 'P',
    "SER" -> 'S', "THR" -> 'T', "TRP" -> 'W', "TYR" -> 'Y', "VAL" -> 'V')
  /** BioPython is_aa(standard=False): standard plus common modified codes */
  private val extendedAA = seq1.keySet ++ Set("MSE", "SEC", "PYL", "UNK", "ASX", "GLX",
    "XLE", "SEP", "TPO", "PTR", "HYP", "CSO", "CSD", "CME", "OCS", "PCA", "KCX", "MLY",
    "M3L", "FME", "NLE", "AIB", "HIC")
  private val chainIdx = Map("A" -> 0, "B" -> 1, "C" -> 2, "D" -> 3, "E" -> 4)

  /** Spark's file index hides names starting with `.` or `_`. */
  private def visible(f: File) = !f.getName.startsWith(".") && !f.getName.startsWith("_")

  private def walk(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) { if (visible(f)) walk(f) else Nil } else if (visible(f)) Seq(f) else Nil
    }

  def islands(nums: Seq[Int], maxGap: Int, minLen: Int): Seq[Seq[Int]] = {
    val out = Seq.newBuilder[Seq[Int]]
    var g = Vector.empty[Int]
    for (x <- nums.sorted) {
      if (g.isEmpty || x - g.last <= maxGap) g :+= x
      else { if (g.size >= minLen) out += g; g = Vector(x) }
    }
    if (g.size >= minLen) out += g
    out.result()
  }

  private def num(m: Map[String, Any], k: String): Double = m.get(k) match {
    case Some(d: Double) => d
    case _ => 0.0
  }

  def expected(inputDir: File, p: Params): Expected = {
    val files = walk(inputDir)
    val byJob = files.groupBy(_.getParentFile.getName)
    val summaries = files.filter(_.getName.endsWith("_summary_confidences_0.json"))
    val (pi, qi) = (chainIdx.get(p.poi), chainIdx.get(p.partner))
    val binders = summaries.flatMap { f =>
      val ok = (pi, qi) match {
        case (Some(a), Some(b)) =>
          try parseJson(new String(Files.readAllBytes(f.toPath), "UTF-8")) match {
            case m: Map[String, Any] @unchecked =>
              val paeMin = m.get("chain_pair_pae_min") match {
                case Some(v: Vector[Any] @unchecked) if a < v.size => v(a) match {
                  case r: Array[Double] if b < r.length => Some(r(b))
                  case _ => None
                }
                case _ => None
              }
              num(m, "iptm") >= p.minIptm && num(m, "ptm") >= p.minPtm &&
                paeMin.exists(_ < p.maxPae)
            case _ => false
          } catch { case _: JsonError | _: NumberFormatException => false }
        case _ => false
      }
      if (ok) Some(f.getParentFile.getName) else None
    }.distinct.sorted

    val cifRe = ".*/([^/]+)/[^/]+_model_(\\d+)\\.cif$".r
    val rows = Seq.newBuilder[String]
    val out = Set.newBuilder[String]
    val reportName = s"interaction_analysis_PAE_${p.maxPae}_max_dist_${p.maxDist}.csv"
    out += reportName
    val interDir = s"Interaction_cif_files_PAE_${p.maxPae}_maxdist_${p.maxDist}"
    val overDir = s"Overlays_Interaction_cif_files_PAE_${p.maxPae}_maxdist_${p.maxDist}"
    var poiPartnerCells = 0L

    for (job <- binders) {
      val models = byJob.getOrElse(job, Nil).flatMap(f => f.getPath match {
        case cifRe(_, m) => Some(m.toInt -> readCif(f))
        case _ => None
      }).toMap
      val m0 = models.getOrElse(0, Nil)
      // chain info on model 0
      val residues = m0.groupBy(a => (a.chain, a.resId, a.resName)).view.mapValues(_.size).toSeq
      val lens = residues.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.map { case ((_, _, name), n) => if (seq1.contains(name)) 1L else n.toLong }.sum
      }
      def sequence(chain: String) = residues.filter(_._1._1 == chain).map(_._1)
        .sortBy(r => (r._2, r._3)).map(r => seq1.getOrElse(r._3, 'X')).mkString
      val interacting: Set[Int] = (pi, qi) match {
        case (Some(a), Some(b)) if lens.size > math.max(a, b) =>
          val fd = byJob(job).find(_.getName.endsWith("_full_data_0.json"))
          val pae = fd.flatMap { f =>
            try parseJson(new String(Files.readAllBytes(f.toPath), "UTF-8"),
                Some(Set("pae", "token_res_ids"))) match {
              case m: Map[String, Any] @unchecked
                  if m.get("token_res_ids").exists(_ != null) =>
                m.get("pae") match {
                  case Some(v: Vector[Any] @unchecked) => Some(v.map {
                    case r: Array[Double] => r
                    case _: Vector[_] => Array.empty[Double] // empty row
                    case _ => null
                  })
                  case _ => None
                }
              case _ => None
            } catch { case _: JsonError => None }
          }
          pae.map { rowsV =>
            val sp = lens.take(a).sum; val ep = sp + lens(a)
            val sq = lens.take(b).sum; val eq = sq + lens(b)
            poiPartnerCells += (ep - sp) * (eq - sq)
            (sq until eq).filter { j =>
              (sp until ep).count { i =>
                i < rowsV.size && rowsV(i.toInt) != null && j < rowsV(i.toInt).length &&
                  rowsV(i.toInt)(j.toInt) < p.maxPae
              } >= p.minRes
            }.map(j => (j - sq + 1).toInt).toSet
          }.getOrElse(Set.empty)
        case _ => Set.empty
      }
      // contacts on model 0: grid buckets of side max_dist, exact check
      val eps2 = p.maxDist * p.maxDist
      val poiAtoms = m0.filter(a => a.chain == p.poi && extendedAA(a.resName))
      def cell(v: Double) = math.floor(v / p.maxDist).toLong
      val grid = poiAtoms.groupBy(a => (cell(a.x), cell(a.y), cell(a.z)))
      val contacts = scala.collection.mutable.Map.empty[Int, Set[Int]]
      for (b <- m0 if b.chain == p.partner && extendedAA(b.resName) && interacting(b.resId)) {
        val (cx, cy, cz) = (cell(b.x), cell(b.y), cell(b.z))
        for (dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1;
             a <- grid.getOrElse((cx + dx, cy + dy, cz + dz), Nil)) {
          val (ex, ey, ez) = (b.x - a.x, b.y - a.y, b.z - a.z)
          if (ex * ex + ey * ey + ez * ez <= eps2)
            contacts(b.resId) = contacts.getOrElse(b.resId, Set.empty) + a.resId
        }
      }
      val poiSeq = sequence(p.poi)
      val partnerSeq = sequence(p.partner)
      def sub(s: String, lo: Int, hi: Int) = s.slice(lo - 1, hi)
      val members = scala.collection.mutable.Set.empty[Int]
      for (grp <- islands(contacts.keys.toSeq, 1, 3)) {
        members ++= grp
        val union = grp.flatMap(contacts).distinct
        for (cg <- islands(union, 2, 3))
          rows += Seq(job, s"${cg.min}-${cg.max}", sub(poiSeq, cg.min, cg.max),
            s"${grp.min}-${grp.max}", sub(partnerSeq, grp.min, grp.max)).mkString(",")
      }
      def keep(a: Atom) = a.chain == p.poi || (a.chain == p.partner && members(a.resId))
      if (m0.exists(keep)) out += s"$interDir/${job}_interaction.cif"
      for ((m, atoms) <- models if atoms.exists(keep)) out += s"$overDir/$job/model_$m.cif"
      if (models.values.exists(_.nonEmpty)) out += s"$overDir/$job/align_and_save.pml"
    }
    val header = Seq("Folder_name", s"Contact_residues_POI_chain_${p.poi}", "Contact_sequence",
      s"Interacting_residues_Partner_chain_${p.partner}", "Interacting_sequence").mkString(",")
    Expected(header, rows.result().sorted, out.result(), Map(
      "jobs" -> summaries.size.toDouble,
      "poi_partner_cells" -> poiPartnerCells.toDouble))
  }

  // ---- persistence (the generator caches expectations next to the tree) ----

  def save(e: Expected, f: File): Unit = {
    val lines = Seq(s"header\t${e.header}") ++ e.rows.map("row\t" + _) ++
      e.files.toSeq.sorted.map("file\t" + _) ++
      e.stats.toSeq.sorted.map { case (k, v) => s"stat\t$k\t$v" }
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }

  def load(f: File): Expected = {
    val ls = Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq.map(_.split("\t", -1))
    Expected(
      ls.collectFirst { case Array("header", h) => h }.getOrElse(""),
      ls.collect { case Array("row", r) => r },
      ls.collect { case Array("file", p) => p }.toSet,
      ls.collect { case Array("stat", k, v) => k -> v.toDouble }.toMap)
  }
}
