package graft.af3

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.suite.Artifacts.deleteOrWarn

/** mmCIF and PyMOL rendering + per-key text file sinks.
  *
  * The reference writes one file per job via BioPython's MMCIFIO
  * (py:338-345, 423-427) and one `.pml` per job (py:533-535). Spark's
  * native writers produce one *directory* per partition; AF3 consumers
  * expect single named files, so each executor task streams its keys'
  * rows to exact paths, in a deterministic order. An `_atom_site` line
  * has one renderer ([[appendAtom]]) and a `.pml` one ([[pml]]). All file
  * IO goes through the Hadoop FileSystem API with the session's conf in
  * one [[Af3Io.TaskState]], broadcast once per Spark job
  * ([[Af3Io.withBroadcast]]) and read-only in the tasks, so the sinks work
  * on any cluster filesystem (HDFS/S3/local). A temp that a failed delete
  * leaves behind is logged (`Artifacts.deleteOrWarn`): it masks no
  * failure and fails no output already in place.
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

  /** The atom fields of a frame that [[renderCif]] maps onto a
    * [[CifAtom]] for [[appendAtom]], in its column order. Numbers come as
    * doubles and `res_id` as an int, so callers can sort on it.
    */
  private val lineCols: Seq[Column] =
    (Seq("group_pdb", "type_symbol", "atom_name", "alt_id", "res_name", "label_asym_id",
      "entity_id", "label_seq_id", "ins_code").map(c => col(c).cast("string").as(c)) ++
      Seq("x", "y", "z", "occupancy", "b_iso").map(c => col(c).cast("double").as(c)) :+
      col("res_id").cast("int").as("res_id") :+ col("chain").cast("string").as("chain"))

  /** Bits of [[appendAtom]]'s `unknown`: a number with no value. */
  private val UnknownX = 1
  private val UnknownY = 2
  private val UnknownZ = 4
  private val UnknownResId = 8

  /** Append one full-fidelity `_atom_site` line of `a` to `sb` (the field
    * set BioPython's MMCIFIO preserves: type_symbol, alt id, label_* ids,
    * insertion code, occupancy, B-factor — py:341-345). A non-null
    * `relabel` replaces both chain ids (the overlays' A/B); `modelNum`
    * fills pdbx_PDB_model_num and is left out when null. A null string
    * field, an empty occupancy or B-factor and a number flagged in
    * `unknown` are written as their CIF unknown marker, so no field
    * shifts.
    */
  private def appendAtom(sb: java.lang.StringBuilder, a: CifAtom, unknown: Int, serial: Int,
      relabel: String, modelNum: String): Unit = {
    def str(v: String, dflt: String): Unit = sb.append(if (v == null) dflt else v).append(' ')
    def num(v: Double, flag: Int, digits: Int): Unit = {
      if ((unknown & flag) != 0) sb.append('?') else appendFixed(sb, v, digits)
      sb.append(' ')
    }
    def opt(v: Option[Double]): Unit = {
      if (v.isEmpty) sb.append('?') else appendFixed(sb, v.get, 2)
      sb.append(' ')
    }
    str(a.group_pdb, "ATOM")
    sb.append(serial).append(' ')
    str(a.type_symbol, "?")
    appendToken(sb, if (a.atom_name == null) "?" else a.atom_name)
    sb.append(' ')
    str(a.alt_id, ".")
    str(a.res_name, "?")
    str(if (relabel != null) relabel else a.label_asym_id, "?")
    str(a.entity_id, "?")
    str(a.label_seq_id, "?")
    str(a.ins_code, "?")
    num(a.x, UnknownX, 3); num(a.y, UnknownY, 3); num(a.z, UnknownZ, 3)
    opt(a.occupancy); opt(a.b_iso)
    if ((unknown & UnknownResId) != 0) sb.append('?') else sb.append(a.res_id)
    sb.append(' ').append(if (relabel != null) relabel else if (a.chain == null) "?" else a.chain)
    if (modelNum != null) sb.append(' ').append(modelNum)
  }

  /** Render atoms as `_atom_site` mmCIF rows ([[appendAtom]] over each
    * row's [[lineCols]], null fields flagged unknown). Atom order is the
    * source file order (`ordinal`, ties broken by chain, res_id and
    * atom_name), not a re-sort, and serials are renumbered sequentially in
    * that order, matching MMCIFIO's writer. Returns (file_key, ord, line)
    * — callers pick `file_key` (e.g. job_dir or job_dir/model_idx) and
    * feed [[writeKeyedText]]. `modelNum` fills pdbx_PDB_model_num (AF3
    * source files are single-model, so the default is 1).
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
        val sb = new java.lang.StringBuilder(96)
        rows.map { r =>
          val k = r.getString(0)
          if (k != key) { key = k; serial = 0 }
          serial += 1
          // lineCols start at column 3
          def isNull(i: Int) = r.isNullAt(3 + i)
          def str(i: Int) = if (isNull(i)) null else r.getString(3 + i)
          def num(i: Int) = if (isNull(i)) 0.0 else r.getDouble(3 + i)
          def opt(i: Int) = if (isNull(i)) None else Some(r.getDouble(3 + i))
          def flag(i: Int, bit: Int) = if (isNull(i)) bit else 0
          val unknown = flag(9, UnknownX) | flag(10, UnknownY) | flag(11, UnknownZ) |
            flag(14, UnknownResId)
          val a = CifAtom(null, 0, str(15), if (isNull(14)) 0 else r.getInt(3 + 14), str(4),
            str(2), num(9), num(10), num(11), group_pdb = str(0), type_symbol = str(1),
            alt_id = str(3), label_asym_id = str(5), entity_id = str(6), label_seq_id = str(7),
            ins_code = str(8), occupancy = opt(12), b_iso = opt(13))
          sb.setLength(0)
          appendAtom(sb, a, unknown, serial, null, r.getString(1))
          (k, serial, sb.toString)
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
  private def rawFs(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case o => o
    }

  /** Hadoop rename reports most failures via `false`, not an exception:
    * an unchecked rename would drop output silently.
    */
  private def renameOrFail(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) sys.error(s"rename $src -> $dst failed")

  /** One output file `outDir/<key><suffix>`, written from an executor
    * task: to a task-attempt-scoped temp file, renamed into place on
    * [[commit]]. A retried or speculative attempt never truncates the
    * final path mid-write; the last attempt to finish a key wins with a
    * complete file.
    */
  private final class KeyedFile(outDir: String, val key: String, suffix: String,
      conf: Configuration) {
    private val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    private val finalPath = new Path(outDir, key + suffix)
    private val tmpPath = new Path(outDir, s".${key.replace('/', '_')}$suffix.__attempt_$attempt")
    private val fs = rawFs(finalPath, conf)
    private var renamed = false
    private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmpPath, true), java.nio.charset.StandardCharsets.UTF_8))

    /** Start the file with `data_<key>` and the `_atom_site` loop header. */
    def cifHeader(): Unit = { out.write(s"data_$key\n"); out.write(header) }

    def line(l: CharSequence): Unit = { out.append(l); out.write('\n') }

    def commit(): Unit = {
      out.close()
      fs.mkdirs(finalPath.getParent) // keys may carry subdirs (job/model_k)
      if (fs.exists(finalPath)) fs.delete(finalPath, false)
      renameOrFail(fs, tmpPath, finalPath)
      renamed = true
    }

    /** Failure path: a temp that was never renamed (whether or not the
      * writer reached close — e.g. [[commit]]'s rename threw) must not
      * survive as an orphan in outDir unlogged. A no-op after a commit.
      */
    def abort(): Unit = {
      out.close()
      if (!renamed && fs.exists(tmpPath)) deleteOrWarn(fs, tmpPath)
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
    // the session's conf: a fresh Configuration() in the task would drop
    // every spark.hadoop.* and session setting (credentials, custom schemes)
    Af3Io.withBroadcast(rendered.sparkSession, Af3Io.TaskState(rendered.sparkSession)) { shared =>
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
                file = new KeyedFile(outDir, key, suffix, shared.value.conf)
                if (withCifHeader) file.cifHeader()
              }
              file.line(r.getString(1))
            }
            if (file != null) file.commit()
          } finally if (file != null) file.abort()
        }
    }
  }

  /** [[graft.Af3Run]]'s structure outputs of one job, from its task: per
    * model (ascending, pulled one at a time) the overlay CIF
    * `<job>/model_<k>.cif` with the POI chain relabeled A and the partner
    * B (py:389-430, 467-469), from model 0 also `<job>_interaction.cif`
    * (py:326-345), then `<job>/align_and_save.pml` over every model with
    * atoms (py:472, 533-535). An atom gets one line per
    * [[Af3Pipeline.sinkRoles]] role, in file order (ordinal; then role,
    * res_id and atom_name when two files share a model: a model whose
    * ordinals ascend, as one parsed file's do, is in that order already).
    * The bytes are those of [[writeKeyedText]] over [[renderCif]] of
    * [[Af3Pipeline.interactionCifAtoms]] / [[Af3Pipeline.modelExtractAtoms]]
    * and over [[Af3Pipeline.pymolScripts]]. Returns the files written.
    */
  private[af3] def writeJob(job: String, models: Iterator[(Int, Seq[CifAtom])],
      members: Set[Int], p: Af3Params, out: Af3Outputs, conf: Configuration): Int = {
    val listed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sb = new java.lang.StringBuilder(96)
    var files = 0
    for ((m, atoms) <- models if atoms.nonEmpty) {
      listed += m
      val roles = atoms.map(a => a -> Af3Pipeline.sinkRoles(a, members, p)).filter(_._2.nonEmpty)
      val ascending = atoms.iterator.zip(atoms.iterator.drop(1))
        .forall { case (a, b) => a.ordinal < b.ordinal }
      val kept = if (ascending) roles
        else roles.sortBy { case (a, rs) => (a.ordinal, rs.head, a.res_id, a.atom_name) }
      var overlay: KeyedFile = null
      var interaction: KeyedFile = null
      try {
        var serial = 0
        for ((a, rs) <- kept; label <- rs) {
          serial += 1
          // a file is held before its header is written, so a failed
          // write still reaches the abort below
          if (overlay == null) {
            overlay = new KeyedFile(out.overlayDir, s"$job/model_$m", ".cif", conf)
            overlay.cifHeader()
          }
          sb.setLength(0)
          appendAtom(sb, a, 0, serial, label, "1")
          overlay.line(sb)
          if (m == 0) {
            if (interaction == null) {
              interaction = new KeyedFile(out.interactionDir, s"${job}_interaction", ".cif", conf)
              interaction.cifHeader()
            }
            sb.setLength(0)
            appendAtom(sb, a, 0, serial, null, "1")
            interaction.line(sb)
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

  /** The report's column names (py:306-312): the reference's headers,
    * chain ids interpolated, by the names [[Af3Pipeline.report]] gives.
    */
  private def reportHeaders(p: Af3Params): Seq[(String, String)] = Seq(
    "folder_name" -> "Folder_name",
    "contact_residues_poi" -> s"Contact_residues_POI_chain_${p.poiChain}",
    "contact_sequence" -> "Contact_sequence",
    "interacting_residues_partner" -> s"Interacting_residues_Partner_chain_${p.partnerChain}",
    "interacting_sequence" -> "Interacting_sequence")

  /** The reference's dynamic-named CSV report sink (py:304-318) over a
    * report frame ([[Af3Pipeline.report]]'s columns): its rows, collected,
    * go through [[writeReport]]. A local frame such as [[Af3Stages.report]]
    * runs no Spark job.
    */
  def writeReportCsv(report: DataFrame, outDir: String, p: Af3Params): Unit = {
    val renamed = reportHeaders(p).foldLeft(report) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }
    val qe = renamed.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("writeReportCsv"))(
      qe.executedPlan.executeCollect())
    val spark = renamed.sparkSession
    writeReport(spark, Af3Io.TaskState(spark).conf, renamed.schema, rows.iterator, outDir, p)
  }

  /** [[writeReportCsv]] over report rows built on the driver, in
    * [[Af3Pipeline.reportSchema]], written with `conf` ([[Af3Stages.state]]):
    * no query plan and no Spark job.
    */
  private[graft] def writeReportRows(spark: SparkSession, conf: Configuration,
      rows: Seq[InternalRow], outDir: String, p: Af3Params): Unit = {
    val names = reportHeaders(p).toMap
    writeReport(spark, conf,
      StructType(Af3Pipeline.reportSchema.map(f => f.copy(name = names(f.name)))),
      rows.iterator, outDir, p)
  }

  /** The one report writer under [[writeReportCsv]] and [[writeReportRows]]:
    * exact reference headers (`schema`'s names) and a single file named
    * `interaction_analysis_PAE_{pae}_max_dist_{d}.csv`, not a part-file
    * directory, so downstream tooling written for the reference reads it
    * unchanged. The driver renders `rows` with Spark's own CSV writer
    * (`UnivocityGenerator`, `CSVOptions` with `header=true`), the bytes
    * `write.option("header", "true").csv` gives, and writes them through
    * `outDir`'s Hadoop FileSystem under `conf` (local, HDFS, or object
    * store) as `.<name>.tmp/part-00000.csv`, renamed into place.
    */
  private def writeReport(spark: SparkSession, conf: Configuration, schema: StructType,
      rows: Iterator[InternalRow], outDir: String, p: Af3Params): Unit = {
    val name = s"interaction_analysis_PAE_${p.maxPaeCutoff}_max_dist_${p.maxDist}"
    val sql = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), sql.csvColumnPruning,
      sql.sessionLocalTimeZone)
    val target = new Path(outDir, s"$name.csv")
    val tmpDir = new Path(outDir, s".$name.tmp")
    val part = new Path(tmpDir, "part-00000.csv")
    val fs = rawFs(target, conf)
    fs.delete(tmpDir, true)
    val writer = new java.io.OutputStreamWriter(fs.create(part, true),
      java.nio.charset.Charset.forName(options.charset))
    try {
      val gen = new UnivocityGenerator(schema, writer, options)
      gen.writeHeaders()
      rows.foreach(gen.write)
      gen.close()
    } catch {
      case e: Throwable => writer.close(); deleteOrWarn(fs, tmpDir); throw e
    }
    if (fs.exists(target)) fs.delete(target, false)
    // a failed rename leaves the temp dir (and the report in it) in place
    renameOrFail(fs, part, target)
    deleteOrWarn(fs, tmpDir)
  }
}
