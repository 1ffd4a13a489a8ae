package graft.af3

import org.apache.hadoop.conf.Configuration

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One parsed `_atom_site` row. Core fields are what the reference
  * consumes via BioPython (chain = auth_asym_id, res_id = auth_seq_id ->
  * residue.id[1], res_name -> residue.resname, atom coords -> atom.coord;
  * cite process_af3_outputs.py:146, 156-174, 227-251). The fidelity
  * fields (`ordinal` through `b_iso`) preserve the rest of the record the
  * way BioPython's MMCIFIO round-trips it (py:341-345, 423-427):
  * element/type_symbol, occupancy, B-factor, label_* ids, insertion code,
  * and the source row order within the file.
  */
final case class CifAtom(
    job_dir: String,
    model_idx: Int,
    chain: String,
    res_id: Int,
    res_name: String,
    atom_name: String,
    x: Double,
    y: Double,
    z: Double,
    ordinal: Int = 0,
    group_pdb: String = "ATOM",
    type_symbol: String = "?",
    alt_id: String = ".",
    label_asym_id: String = "?",
    entity_id: String = "?",
    label_seq_id: String = "?",
    ins_code: String = "?",
    occupancy: Option[Double] = None,
    b_iso: Option[Double] = None)

/** mmCIF `_atom_site` reader: a single-pass tokenizer over one file's
  * text, run inside executors: one model-file read ([[readModel]]) serves
  * [[readAtoms]], a job's task ([[Af3Jobs]]) and [[Af3Io.runLog]]. No
  * Python/BioPython dependency.
  *
  * Tokenization follows the CIF quoting rule BioPython implements
  * (py:146 via MMCIF2Dict): a `'` or `"` at token start opens a quoted
  * value that closes only at the matching quote followed by whitespace or
  * end of line — so nucleic-acid atom names like `"C1'"` parse as `C1'`.
  * Multi-model files take the row's model through the filename convention
  * `*_model_{k}.cif` (the reference does the same, py:349, 440-441).
  */
object CifParser {

  /** Decode CIF/JSON bytes: strict UTF-8 first, ISO-8859-1 on malformed
    * input — the reference's encoding fallback applied to CIF reads too
    * (read_cif_file, py:36-64: utf-8 then iso-8859-1).
    */
  def decodeText(bytes: Array[Byte]): String = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try utf8.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }

  /** CIF whitespace, the separator between the tokens of a data line.
    * [[CifWriter]] quotes every value that contains one.
    */
  def isCifSpace(c: Char): Boolean = Character.isWhitespace(c)

  /** Split one data line into CIF tokens, honoring quoted values: a
    * quote char at token start opens, and closes only when the same
    * quote is followed by whitespace or line end (so `'C1''` and
    * `"C1'"` both yield `C1'`-style names with embedded quotes intact).
    */
  def tokenize(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = line.length
    var i = 0
    while (i < n) {
      while (i < n && isCifSpace(line.charAt(i))) i += 1
      if (i < n) {
        val c = line.charAt(i)
        if (c == '\'' || c == '"') {
          val start = i + 1
          var j = start
          var end = -1
          while (j < n && end < 0) {
            if (line.charAt(j) == c && (j + 1 >= n || isCifSpace(line.charAt(j + 1))))
              end = j
            j += 1
          }
          if (end >= 0) { out += line.substring(start, end); i = end + 1 }
          else { out += line.substring(start); i = n } // unterminated: rest of line
        } else {
          val start = i
          while (i < n && !isCifSpace(line.charAt(i))) i += 1
          out += line.substring(start, i)
        }
      }
    }
    out.toArray
  }

  /** Bound positions of the `_atom_site.*` header fields of one loop. */
  private final class FieldIdx(fields: collection.Seq[String]) {
    private def idx(names: String*): Int =
      names.map(fields.indexOf).find(_ >= 0).getOrElse(-1)
    val iGrp = idx("group_PDB")
    val iChain = idx("auth_asym_id", "label_asym_id")
    val iRes = idx("auth_seq_id", "label_seq_id")
    val iResName = idx("auth_comp_id", "label_comp_id")
    val iAtom = idx("label_atom_id", "auth_atom_id")
    val iX = idx("Cartn_x"); val iY = idx("Cartn_y"); val iZ = idx("Cartn_z")
    val iType = idx("type_symbol")
    val iAlt = idx("label_alt_id")
    val iLabAsym = idx("label_asym_id")
    val iEntity = idx("label_entity_id")
    val iLabSeq = idx("label_seq_id")
    val iIns = idx("pdbx_PDB_ins_code")
    val iOcc = idx("occupancy")
    val iB = idx("B_iso_or_equiv")
    // a row is usable only if the coordinate fields exist and the line
    // is long enough for every *required* index — truncated rows and
    // loops missing Cartn_* are skipped, never fatal (≙ the reference's
    // per-file error tolerance, py:40-64)
    val maxRequired = Seq(iGrp, iChain, iRes, iResName, iAtom, iX, iY, iZ).max
    def usable(t: Array[String]): Boolean =
      iGrp >= 0 && iX >= 0 && iY >= 0 && iZ >= 0 && t.length > maxRequired &&
        (t(iGrp) == "ATOM" || t(iGrp) == "HETATM")

    def opt(t: Array[String], i: Int, dflt: String): String =
      if (i >= 0 && i < t.length) t(i) else dflt
    def optD(t: Array[String], i: Int): Option[Double] =
      if (i >= 0 && i < t.length) t(i).toDoubleOption else None
  }

  /** Parse the `_atom_site` loop of one mmCIF text, full fidelity, in
    * a single pass. Tolerant of field order: positions come from the
    * `_atom_site.*` header lines. A row whose numeric field does not
    * parse is skipped (malformed, never fatal) without consuming an
    * ordinal.
    */
  def parseAtomSite(jobDir: String, modelIdx: Int, text: String): Iterator[CifAtom] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    var ix: FieldIdx = null
    var inHeader = false
    var inData = false
    var ordinal = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[CifAtom]

    def emit(l: String): Unit = {
      val t = tokenize(l)
      if (ix.usable(t)) {
        try {
          out += CifAtom(
            jobDir, modelIdx,
            if (ix.iChain >= 0) t(ix.iChain) else "",
            if (ix.iRes >= 0) t(ix.iRes).toInt else -1,
            if (ix.iResName >= 0) t(ix.iResName) else "",
            if (ix.iAtom >= 0) t(ix.iAtom) else "",
            t(ix.iX).toDouble, t(ix.iY).toDouble, t(ix.iZ).toDouble,
            ordinal = ordinal + 1,
            group_pdb = t(ix.iGrp),
            type_symbol = ix.opt(t, ix.iType, "?"),
            alt_id = ix.opt(t, ix.iAlt, "."),
            label_asym_id = ix.opt(t, ix.iLabAsym, "?"),
            entity_id = ix.opt(t, ix.iEntity, "?"),
            label_seq_id = ix.opt(t, ix.iLabSeq, "?"),
            ins_code = ix.opt(t, ix.iIns, "?"),
            occupancy = ix.optD(t, ix.iOcc),
            b_iso = ix.optD(t, ix.iB))
          ordinal += 1
        } catch { case _: NumberFormatException => } // malformed row: skip
      }
    }

    val isTerminator = (line: String) =>
      line.isEmpty || line.startsWith("#") || line.startsWith("_") ||
        line.startsWith("loop_") || line.startsWith("data_")

    for (raw <- text.linesIterator) {
      val line = raw.trim
      if (inHeader) {
        if (line.startsWith("_atom_site.")) {
          fields += line.stripPrefix("_atom_site.").trim
        } else if (fields.nonEmpty) {
          inHeader = false; ix = new FieldIdx(fields)
          // this line is the first data row (or a terminator)
          if (!isTerminator(line)) { inData = true; emit(line) }
        } else if (!line.startsWith("_")) {
          inHeader = false // a loop_ over some other category
        }
      } else if (inData) {
        if (isTerminator(line)) inData = false
        else emit(line)
      } else if (line == "loop_") {
        fields.clear(); inHeader = true
      }
    }
    out.iterator
  }

  private val modelName = ".+_model_(\\d+)\\.cif".r

  /** (job_dir, model_idx) of a `*.cif` file [[readAtoms]] reads, at
    * `url` (a URL-encoded path), or `None` for a name that is no model
    * file.
    */
  private[af3] def modelOf(url: String): Option[(String, Int)] = Af3Io.jobAndFile(url) match {
    case (job, modelName(m)) => Some((job, m.toInt))
    case _ => None
  }

  /** The atoms of the model file at `url` (a URL-encoded path): its
    * bytes, [[decodeText]], then [[parseAtomSite]] with the job and model
    * of [[modelOf]]; none for a name that is no model file.
    */
  private[af3] def readModel(conf: Configuration, url: String): Iterator[CifAtom] =
    modelOf(url).iterator.flatMap { case (job, m) =>
      val path = SparkPath.fromUrlString(url).toPath
      val in = path.getFileSystem(conf).open(path)
      val bytes = try in.readAllBytes() finally in.close()
      parseAtomSite(job, m, decodeText(bytes))
    }

  /** The atoms of the model files at `urls`, in one Spark job whose
    * tasks read with `state`'s conf ([[Af3Io.perFile]]).
    */
  private[af3] def atomsOf(spark: SparkSession, state: Af3Io.TaskState,
      urls: Seq[String]): Dataset[CifAtom] = {
    import spark.implicits._
    Af3Io.perFile(spark, state, urls)((s, url) => readModel(s.conf, url)).toDS()
  }

  /** Read all `*_model_*.cif` under `inputDir` (recursive) into a typed
    * atoms Dataset: [[readModel]] over each model file [[Af3Io.bundleFiles]]
    * lists (py:348-349, 440-441). AppleDouble `._` siblings (py:560-566)
    * never reach it: the listing hides names that start with `.` or `_`.
    */
  def readAtoms(spark: SparkSession, inputDir: String): Dataset[CifAtom] = {
    val state = Af3Io.TaskState(spark)
    atomsOf(spark, state, Af3Io.bundleFiles(state.conf, inputDir).models)
  }

  def readAtomsDf(spark: SparkSession, inputDir: String): DataFrame =
    readAtoms(spark, inputDir).toDF()
}
