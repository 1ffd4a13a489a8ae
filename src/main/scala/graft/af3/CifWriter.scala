package graft.af3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** mmCIF and PyMOL rendering + per-key text file sinks.
  *
  * The reference writes one file per job via BioPython's MMCIFIO
  * (py:338-345, 423-427) and one `.pml` per job (py:533-535). Spark's
  * native writers produce one *directory* per partition; AF3 consumers
  * expect single named files, so each executor task streams its keys'
  * rows to exact paths, in a deterministic order. An `_atom_site` line
  * has one renderer ([[atomLine]]) and a `.pml` one ([[pml]]). All file
  * IO goes through the Hadoop FileSystem API with the session's
  * configuration shipped to executors, so the sinks work on any cluster
  * filesystem (HDFS/S3/local), not only a driver-shared local disk.
  */
object CifWriter {

  /** Append `t` as a CIF value, quoted the way mmCIF requires when it
    * carries a quote or whitespace (nucleic-acid atom names like C1' ->
    * "C1'"); plain tokens pass through. Mirrors BioPython MMCIFIO's
    * quoting on write. Whitespace is [[CifParser.isCifSpace]], the
    * reader's own token separator.
    */
  private[af3] def appendToken(sb: java.lang.StringBuilder, t: String): Unit =
    if (t.indexOf('\'') >= 0) sb.append('"').append(t).append('"')
    // a bare token may not START with a quote char (the reader would
    // treat it as an opening quote), nor contain whitespace
    else if (t.isEmpty || t.charAt(0) == '"' || t.exists(CifParser.isCifSpace))
      sb.append('\'').append(t).append('\'')
    else sb.append(t)

  private val scales = Array(1L, 10L, 100L, 1000L)
  private val formats = Array("%.0f", "%.1f", "%.2f", "%.3f")

  /** Append `String.format(Locale.US, "%.<digits>f", x)` (what Spark's
    * `format_string` renders), for `digits` in 0..3. A value that
    * already has at most `digits` decimals (`round(x * 10^digits)` scaled
    * back is `x`) and a magnitude under 1e9 is written from that long
    * directly: Java formats the shortest decimal that reads back as
    * `x`, which is then exactly that long scaled down. Negative zero and
    * negative values that round to zero print `-0.000`, so they take the
    * formatter, as do NaN, the infinities, large magnitudes and values
    * that need rounding (Java rounds HALF_UP on the shortest decimal:
    * 0.125 -> 0.13 at two digits).
    */
  private[af3] def appendFixed(sb: java.lang.StringBuilder, x: Double, digits: Int): Unit = {
    val scale = scales(digits)
    val m = Math.round(x * scale)
    if (Math.abs(x) < 1e9 && m.toDouble / scale == x &&
        !(m == 0 && java.lang.Double.doubleToRawLongBits(x) < 0)) {
      val a = Math.abs(m)
      if (m < 0) sb.append('-')
      sb.append(a / scale)
      if (digits > 0) {
        sb.append('.')
        val frac = a % scale
        var d = scale / 10
        while (d > 0) { sb.append(('0' + frac / d % 10).toChar); d /= 10 }
      }
    } else sb.append(String.format(java.util.Locale.US, formats(digits), Double.box(x)))
  }

  /** The atom fields [[atomLine]] renders, in its column order. Numbers
    * come as doubles and `res_id` as it is, so callers can sort on it.
    */
  private val lineCols: Seq[Column] =
    (Seq("group_pdb", "type_symbol", "atom_name", "alt_id", "res_name", "label_asym_id",
      "entity_id", "label_seq_id", "ins_code").map(c => col(c).cast("string").as(c)) ++
      Seq("x", "y", "z", "occupancy", "b_iso").map(c => col(c).cast("double").as(c)) :+
      col("res_id") :+ col("chain").cast("string").as("chain"))

  /** One full-fidelity `_atom_site` row (the field set BioPython's
    * MMCIFIO preserves: type_symbol, alt id, label_* ids, insertion
    * code, occupancy, B-factor — py:341-345) from the [[lineCols]] of
    * `r` starting at column `o`. A non-null `relabel` replaces both
    * chain ids (the overlays' A/B); `modelNum` fills pdbx_PDB_model_num
    * and is left out when null. Every other null field is written as its
    * CIF unknown marker, so no field shifts.
    */
  private def atomLine(r: Row, o: Int, serial: Int, relabel: String, modelNum: String): String = {
    val sb = new java.lang.StringBuilder(96)
    def str(i: Int, dflt: String) =
      if (relabel != null && (i == 5 || i == 15)) relabel
      else if (r.isNullAt(o + i)) dflt
      else r.getString(o + i)
    def num(i: Int, digits: Int): Unit =
      if (r.isNullAt(o + i)) sb.append('?') else appendFixed(sb, r.getDouble(o + i), digits)
    sb.append(str(0, "ATOM")).append(' ').append(serial).append(' ')
      .append(str(1, "?")).append(' ')
    appendToken(sb, str(2, "?"))
    sb.append(' ').append(str(3, ".")).append(' ').append(str(4, "?")).append(' ')
      .append(str(5, "?")).append(' ').append(str(6, "?")).append(' ')
      .append(str(7, "?")).append(' ').append(str(8, "?")).append(' ')
    num(9, 3); sb.append(' '); num(10, 3); sb.append(' '); num(11, 3); sb.append(' ')
    num(12, 2); sb.append(' '); num(13, 2); sb.append(' ')
    sb.append(if (r.isNullAt(o + 14)) "?" else r.get(o + 14).toString).append(' ')
      .append(str(15, "?"))
    if (modelNum != null) sb.append(' ').append(modelNum)
    sb.toString
  }

  /** Render atoms as `_atom_site` mmCIF rows ([[atomLine]]). Atom order
    * is the source file order (`ordinal`, ties broken by chain, res_id
    * and atom_name), not a re-sort, and serials are renumbered
    * sequentially in that order, matching MMCIFIO's writer. Returns
    * (file_key, ord, line) — callers pick `file_key` (e.g. job_dir or
    * job_dir/model_idx) and feed [[writeKeyedText]]. `modelNum` fills
    * pdbx_PDB_model_num (AF3 source files are single-model, so the
    * default is 1).
    */
  def renderCif(
      atoms: DataFrame,
      fileKey: Column,
      modelNum: Column = lit(1)): DataFrame = {
    import atoms.sparkSession.implicits._
    atoms
      .select(Seq(fileKey.as("file_key"), modelNum.cast("string").as("model_num"),
        col("ordinal")) ++ lineCols: _*)
      .repartition(col("file_key"))
      .sortWithinPartitions(col("file_key"), col("ordinal"), col("chain"), col("res_id"),
        col("atom_name"))
      .mapPartitions { (rows: Iterator[Row]) =>
        var key: String = null
        var serial = 0
        rows.map { r =>
          val k = r.getString(0)
          if (k != key) { key = k; serial = 0 }
          serial += 1
          (k, serial, atomLine(r, 3, serial, null, r.getString(1)))
        }
      }
      .toDF("file_key", "ord", "line")
  }

  /** The PyMOL script of one job (sink_pymol_codegen, py:477-541): load
    * each of `models` (ascending), align every model but 0 to model_0 on
    * chain A, util.cbc(), save the overlay session. A job with model 0
    * alone keeps an empty align line.
    */
  private[af3] def pml(job: String, models: Seq[Int]): String =
    Seq(models.map(k => s"load model_$k.cif, model_$k").mkString("\n"),
      models.filter(_ >= 1).map(k => s"align model_$k and chain A, model_0 and chain A")
        .mkString("\n"),
      "util.cbc()",
      s"save ${job}_overlay.pse").mkString("\n")

  private val header: String =
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

  /** A filesystem view that writes no .crc siblings next to user-facing
    * output: unwrap the local ChecksumFileSystem to its raw form rather
    * than flipping setWriteChecksum on the JVM-shared cached instance
    * (which would silently change behavior for every other writer in
    * the executor). HDFS/object stores pass through unchanged.
    */
  private def rawFs(path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.FileSystem =
    path.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case o => o
    }

  /** Hadoop rename reports most failures via `false`, not an exception:
    * an unchecked rename would drop output silently.
    */
  private def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst)) sys.error(s"rename $src -> $dst failed")

  /** One output file `outDir/<key><suffix>`, written from an executor
    * task: to a task-attempt-scoped temp file, renamed into place on
    * [[commit]]. A retried or speculative attempt never truncates the
    * final path mid-write; the last attempt to finish a key wins with a
    * complete file.
    */
  private final class KeyedFile(outDir: String, val key: String, suffix: String,
      conf: org.apache.hadoop.conf.Configuration) {
    private val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    private val finalPath = new org.apache.hadoop.fs.Path(outDir, key + suffix)
    private val tmpPath = new org.apache.hadoop.fs.Path(outDir,
      s".${key.replace('/', '_')}$suffix.__attempt_$attempt")
    private val fs = rawFs(finalPath, conf)
    private var renamed = false
    private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmpPath, true), java.nio.charset.StandardCharsets.UTF_8))

    /** Start the file with `data_<key>` and the `_atom_site` loop header. */
    def cifHeader(): Unit = { out.write(s"data_$key\n"); out.write(header) }

    def line(l: String): Unit = { out.write(l); out.write("\n") }

    def commit(): Unit = {
      out.close()
      fs.mkdirs(finalPath.getParent) // keys may carry subdirs (job/model_k)
      if (fs.exists(finalPath)) fs.delete(finalPath, false)
      renameOrFail(fs, tmpPath, finalPath)
      renamed = true
    }

    /** Failure path: a temp that was never renamed (whether or not the
      * writer reached close — e.g. [[commit]]'s rename threw) must not
      * survive as an orphan in outDir. A no-op after a commit.
      */
    def abort(): Unit = {
      out.close()
      if (!renamed && fs.exists(tmpPath)) fs.delete(tmpPath, false)
    }
  }

  /** Write `(file_key, ord, line)` rows as `outDir/<file_key><suffix>`,
    * one file per key, lines in `ord` order, optional per-file header.
    * Scales: keys are hash-distributed across tasks; each task writes only
    * its partition's keys, through the cluster filesystem.
    */
  def writeKeyedText(
      rendered: DataFrame,
      outDir: String,
      suffix: String,
      withCifHeader: Boolean = false): Unit = {
    // ship the session's Hadoop conf to the tasks: a fresh
    // Configuration() there would drop every spark.hadoop.* setting
    // (credentials, custom schemes)
    val conf = new SerializableConfiguration(
      rendered.sparkSession.sparkContext.hadoopConfiguration)
    rendered
      .repartition(col("file_key"))
      .sortWithinPartitions(col("file_key"), col("ord"))
      .select("file_key", "line")
      .foreachPartition { (rows: Iterator[Row]) =>
        var file: KeyedFile = null
        try {
          rows.foreach { r =>
            val key = r.getString(0)
            if (file == null || key != file.key) {
              if (file != null) file.commit()
              file = null
              file = new KeyedFile(outDir, key, suffix, conf.value)
              if (withCifHeader) file.cifHeader()
            }
            file.line(r.getString(1))
          }
          if (file != null) file.commit()
        } finally if (file != null) file.abort()
      }
  }

  /** [[atomLine]]'s columns ([[lineCols]]) of a parsed atom. */
  private def lineRow(a: CifAtom): Row = Row(a.group_pdb, a.type_symbol, a.atom_name, a.alt_id,
    a.res_name, a.label_asym_id, a.entity_id, a.label_seq_id, a.ins_code, a.x, a.y, a.z,
    a.occupancy.getOrElse(null), a.b_iso.getOrElse(null), a.res_id, a.chain)

  /** [[graft.Af3Run]]'s structure outputs of one job, from its task: per
    * model (ascending, pulled one at a time) the overlay CIF
    * `<job>/model_<k>.cif` with the POI chain relabeled A and the partner
    * B (py:389-430, 467-469), from model 0 also `<job>_interaction.cif`
    * (py:326-345), then `<job>/align_and_save.pml` over every model with
    * atoms (py:472, 533-535). An atom gets one line per
    * [[Af3Pipeline.sinkRoles]] role, in file order (ordinal; then role,
    * res_id and atom_name when two files share a model). The bytes are
    * those of [[writeKeyedText]] over [[renderCif]] of
    * [[Af3Pipeline.interactionCifAtoms]] / [[Af3Pipeline.modelExtractAtoms]]
    * and over [[Af3Pipeline.pymolScripts]]. Returns the files written.
    */
  private[af3] def writeJob(job: String, models: Iterator[(Int, Seq[CifAtom])],
      members: Set[Int], p: Af3Params, out: Af3Outputs,
      conf: org.apache.hadoop.conf.Configuration): Int = {
    val listed = scala.collection.mutable.ArrayBuffer.empty[Int]
    var files = 0
    for ((m, atoms) <- models if atoms.nonEmpty) {
      listed += m
      val kept = atoms.map(a => a -> Af3Pipeline.sinkRoles(a, members, p)).filter(_._2.nonEmpty)
        .sortBy { case (a, roles) => (a.ordinal, roles.head, a.res_id, a.atom_name) }
      var overlay: KeyedFile = null
      var interaction: KeyedFile = null
      try {
        var serial = 0
        for ((a, roles) <- kept; label <- roles) {
          serial += 1
          val r = lineRow(a)
          // a file is held before its header is written, so a failed
          // write still reaches the abort below
          if (overlay == null) {
            overlay = new KeyedFile(out.overlayDir, s"$job/model_$m", ".cif", conf)
            overlay.cifHeader()
          }
          overlay.line(atomLine(r, 0, serial, label, "1"))
          if (m == 0) {
            if (interaction == null) {
              interaction = new KeyedFile(out.interactionDir, s"${job}_interaction", ".cif", conf)
              interaction.cifHeader()
            }
            interaction.line(atomLine(r, 0, serial, null, "1"))
          }
        }
        for (f <- Seq(overlay, interaction) if f != null) { f.commit(); files += 1 }
      } finally {
        if (overlay != null) overlay.abort()
        if (interaction != null) interaction.abort()
      }
    }
    if (listed.nonEmpty) {
      val f = new KeyedFile(out.overlayDir, s"$job/align_and_save", ".pml", conf)
      try { f.line(pml(job, listed.toSeq)); f.commit(); files += 1 } finally f.abort()
    }
    files
  }

  /** The reference's dynamic-named CSV report sink (py:304-318): exact
    * reference headers (chain ids interpolated into column names,
    * py:306-312) and a single file named
    * `interaction_analysis_PAE_{pae}_max_dist_{d}.csv`, not a part-file
    * directory, so downstream tooling written for the reference reads it
    * unchanged. The driver renders the rows with Spark's own CSV writer
    * (`UnivocityGenerator`, `CSVOptions` with `header=true`), the bytes
    * `write.option("header", "true").csv` gives, and writes them through
    * the Hadoop FileSystem of `outDir` (local, HDFS, or object store
    * alike) as the part file of a temp dir, `.<name>.tmp/part-00000.csv`,
    * renamed into place. A local frame such as [[Af3Stages.report]] runs
    * no Spark job.
    */
  def writeReportCsv(report: DataFrame, outDir: String, p: Af3Params): Unit = {
    val renamed = report
      .withColumnRenamed("folder_name", "Folder_name")
      .withColumnRenamed("contact_residues_poi",
        s"Contact_residues_POI_chain_${p.poiChain}")
      .withColumnRenamed("contact_sequence", "Contact_sequence")
      .withColumnRenamed("interacting_residues_partner",
        s"Interacting_residues_Partner_chain_${p.partnerChain}")
      .withColumnRenamed("interacting_sequence", "Interacting_sequence")
    val name = s"interaction_analysis_PAE_${p.maxPaeCutoff}_max_dist_${p.maxDist}"
    val qe = renamed.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("writeReportCsv"))(
      qe.executedPlan.executeCollect())
    val sql = qe.sparkSession.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), sql.csvColumnPruning,
      sql.sessionLocalTimeZone)
    val target = new org.apache.hadoop.fs.Path(outDir, s"$name.csv")
    val tmpDir = new org.apache.hadoop.fs.Path(outDir, s".$name.tmp")
    val part = new org.apache.hadoop.fs.Path(tmpDir, "part-00000.csv")
    val fs = rawFs(target, qe.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(tmpDir, true)
    val writer = new java.io.OutputStreamWriter(fs.create(part, true),
      java.nio.charset.Charset.forName(options.charset))
    try {
      val gen = new UnivocityGenerator(renamed.schema, writer, options)
      gen.writeHeaders()
      rows.foreach(gen.write)
      gen.close()
    } catch {
      case e: Throwable => writer.close(); fs.delete(tmpDir, true); throw e
    }
    if (fs.exists(target)) fs.delete(target, false)
    // a failed rename leaves the temp dir (and the report in it) in place
    renameOrFail(fs, part, target)
    fs.delete(tmpDir, true)
  }
}
