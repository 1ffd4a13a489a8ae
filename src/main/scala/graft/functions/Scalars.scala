package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar helpers mirroring the reference's inline expressions
  * (SURVEY §2.7). All built on codegen'd `org.apache.spark.sql.functions`;
  * no UDFs anywhere.
  */
object Scalars {

  /** 3-letter → 1-letter amino-acid code map (reference
    * process_af3_outputs.py:178–183), default 'X' (py:156).
    */
  val seq1Map: Map[String, String] = Map(
    "ALA" -> "A", "ARG" -> "R", "ASN" -> "N", "ASP" -> "D", "CYS" -> "C",
    "GLN" -> "Q", "GLU" -> "E", "GLY" -> "G", "HIS" -> "H", "ILE" -> "I",
    "LEU" -> "L", "LYS" -> "K", "MET" -> "M", "PHE" -> "F", "PRO" -> "P",
    "SER" -> "S", "THR" -> "T", "TRP" -> "W", "TYR" -> "Y", "VAL" -> "V")

  /** The 20 standard amino acids. */
  val standardAA: Seq[String] = seq1Map.keys.toSeq.sorted

  /** `is_aa` membership (py:230, 165): BioPython's default is
    * `standard=False`, which also accepts modified/non-standard residues.
    * This is the commonly-occurring subset of BioPython's extended
    * 3-letter table (the full table is a data file of hundreds of exotic
    * PDB chemical components; these cover AF3-realistic structures —
    * selenomethionine, phosphorylated S/T/Y, UNK placeholders, etc.).
    */
  val extendedAA: Seq[String] = (standardAA ++ Seq(
    "MSE", "SEC", "PYL", "UNK", "ASX", "GLX", "XLE",
    "SEP", "TPO", "PTR", "HYP", "CSO", "CSD", "CME", "OCS",
    "PCA", "KCX", "MLY", "M3L", "FME", "NLE", "AIB", "HIC")).sorted

  /** Closed chain-id → 0-based index map (py:89–91, 186–188). */
  val chainToIdx: Map[String, Int] =
    Map("A" -> 0, "B" -> 1, "C" -> 2, "D" -> 3, "E" -> 4)

  /** Map-literal lookup with default — `dict.get(k, default)` (py:156).
    * try_element_at: missing key → null (ANSI-safe), then coalesce.
    */
  def mapLookup(m: Map[String, String], key: Column, default: String): Column =
    coalesce(try_element_at(typedLit(m), key), lit(default))

  /** `m[i][j]` 0-based nested-array index → Spark's 1-based element_at
    * (py:97; the off-by-one hazard flagged in SURVEY §2.7).
    */
  def matrixAt0(m: Column, i: Int, j: Int): Column =
    // `get` (0-based, null on out-of-bounds) rather than nested
    // try_element_at: TryEval-in-TryEval trips a janino codegen bug
    // ("isNull_N is not an rvalue") and silently drops the whole
    // projection to interpreter mode — same semantics, no fallback
    get(get(m, lit(i)), lit(j))

  /** `f"{mn}-{mx}"` island range label (py:376–378). */
  def rangeLabel(mn: Column, mx: Column): Column =
    concat(mn.cast("string"), lit("-"), mx.cast("string"))

  /** Python `seq[mn-1:mx]` — 1-based inclusive [mn, mx] substring
    * (py:377, 379; Python slices are 0-based end-exclusive).
    */
  def substrRange(s: Column, mn: Column, mx: Column): Column =
    s.substr(mn, mx - mn + lit(1))

  /** Squared Euclidean distance between (x1,y1,z1) and (x2,y2,z2). */
  def distSq(x1: Column, y1: Column, z1: Column,
             x2: Column, y2: Column, z2: Column): Column = {
    val dx = x1 - x2; val dy = y1 - y2; val dz = z1 - z2
    dx * dx + dy * dy + dz * dz
  }

  def euclid(x1: Column, y1: Column, z1: Column,
             x2: Column, y2: Column, z2: Column): Column =
    sqrt(distSq(x1, y1, z1, x2, y2, z2))

  private val parentDirRe = "([^/]+)/[^/]+$"

  /** `os.path.basename(os.path.dirname(p))` — job-dir name from a file
    * path (py:115, 348–349, 522–523).
    */
  def parentDirName(path: Column): Column = regexp_extract(path, parentDirRe, 1)

  /** [[parentDirName]] of one path string. */
  def parentDirName(path: String): String =
    parentDirRe.r.findFirstMatchIn(path).map(_.group(1)).getOrElse("")

  def baseName(path: Column): Column =
    regexp_extract(path, "([^/]+)$", 1)

  /** Deterministic polynomial rolling hash of a string (document
    * fingerprinting): fold over characters, `acc = (acc*131 + codepoint)
    * mod p` with p = 9007199254740881 (largest prime < 2^53, so the
    * accumulator never overflows a signed 64-bit long: acc*131 + c <
    * 2^53·131 < 2^63). Exactly reproducible in ANSI SQL via a left
    * fold.
    */
  val polyHashP: Long = 9007199254740881L

  /** Native codegen'd form (PolyHashExpr); PolyHashSpec keeps the
    * `aggregate` fold as the reference it equates against.
    */
  def polyHash(s: Column): Column = VectorExpressions.polyHash(s)
}
