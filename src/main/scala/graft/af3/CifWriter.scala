package graft.af3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** mmCIF rendering + distributed per-key text file sink.
  *
  * The reference writes one file per job via BioPython's MMCIFIO
  * (py:338-345, 423-427) and one `.pml` per job (py:533-535). Spark's
  * native writers produce one *directory* per partition; AF3 consumers
  * expect single named files, so the sink repartitions by file key and has
  * each executor task stream its keys' rows to exact paths — distributed,
  * no driver collect, deterministic order via an explicit sort. All file
  * IO goes through the Hadoop FileSystem API with the session's
  * configuration shipped to executors, so the sink works on any cluster
  * filesystem (HDFS/S3/local), not only a driver-shared local disk.
  */
object CifWriter {

  /** Quote a CIF token the way mmCIF requires when it carries a quote or
    * whitespace (nucleic-acid atom names like C1' -> "C1'"); plain tokens
    * pass through. Mirrors BioPython MMCIFIO's quoting on write.
    */
  private def cifQuote(c: Column): Column =
    when(c.contains("'"), concat(lit("\""), c, lit("\"")))
      // a bare token may not START with a quote char (the reader would
      // treat it as an opening quote), nor contain whitespace
      .when(c.rlike("\\s") || c === "" || c.startsWith("\""),
        concat(lit("'"), c, lit("'")))
      .otherwise(c)

  // format_string renders a null argument as the literal "null"
  // (java.util.Formatter), never SQL NULL — the null check must come
  // BEFORE formatting, or missing values would emit "null" tokens
  private def num2(c: Column): Column =
    when(c.isNull, lit("?")).otherwise(format_string("%.2f", c))

  /** Render atoms as full-fidelity `_atom_site` mmCIF rows (the same
    * field set BioPython's MMCIFIO preserves: type_symbol, alt id,
    * label_* ids, insertion code, occupancy, B-factor — py:341-345).
    * Atom order is the source file order (`ordinal`), not a re-sort, and
    * serials are renumbered sequentially in that order, matching
    * MMCIFIO's writer. Returns (file_key, ord, line) — callers pick
    * `file_key` (e.g. job_dir or job_dir/model_idx) and feed
    * [[writeKeyedText]]. `modelNum` fills pdbx_PDB_model_num (AF3 source
    * files are single-model, so the default is 1).
    */
  def renderCif(
      atoms: DataFrame,
      fileKey: Column,
      modelNum: Column = lit(1)): DataFrame = {
    // format_string, NOT format_number: the latter inserts thousands
    // separators ("1,234.500") which no CIF consumer can read back.
    // Every field is null-coalesced to its CIF unknown marker:
    // concat_ws silently DROPS null columns, which would shift all
    // subsequent fields left and misalign the whole row.
    def coord(c: Column) = when(c.isNull, lit("?")).otherwise(format_string("%.3f", c))
    def f(name: String, dflt: String) = coalesce(col(name), lit(dflt))
    val line = concat_ws(" ",
      f("group_pdb", "ATOM"), col("atom_serial"), f("type_symbol", "?"),
      cifQuote(f("atom_name", "?")), f("alt_id", "."), f("res_name", "?"),
      f("label_asym_id", "?"), f("entity_id", "?"), f("label_seq_id", "?"),
      f("ins_code", "?"),
      coord(col("x")), coord(col("y")), coord(col("z")),
      num2(col("occupancy")), num2(col("b_iso")),
      coalesce(col("res_id").cast("string"), lit("?")),
      f("chain", "?"), modelNum)
    atoms
      .withColumn("atom_serial",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(fileKey).orderBy(col("ordinal"), col("chain"), col("res_id"), col("atom_name"))))
      .select(fileKey.as("file_key"), col("atom_serial").as("ord"), line.as("line"))
  }

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
    val hdr = if (withCifHeader) header else ""
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
        // task-attempt-scoped temp file + rename on close: a retried or
        // speculative attempt never truncates the final path mid-write;
        // the last attempt to finish a key wins with a complete file
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var current: String = null
        var writer: java.io.BufferedWriter = null
        var tmpPath: org.apache.hadoop.fs.Path = null
        var finalPath: org.apache.hadoop.fs.Path = null
        var fs: org.apache.hadoop.fs.FileSystem = null
        def commit(): Unit = if (writer != null) {
          writer.close(); writer = null
          fs.mkdirs(finalPath.getParent) // keys may carry subdirs (job/model_k)
          if (fs.exists(finalPath)) fs.delete(finalPath, false)
          renameOrFail(fs, tmpPath, finalPath)
          tmpPath = null // renamed away: nothing for the failure path to clean
        }
        try {
          rows.foreach { r =>
            val key = r.getString(0)
            if (key != current) {
              commit(); current = key
              finalPath = new org.apache.hadoop.fs.Path(outDir, key + suffix)
              tmpPath = new org.apache.hadoop.fs.Path(outDir,
                s".${key.replace('/', '_')}$suffix.__attempt_$attempt")
              fs = rawFs(finalPath, conf.value)
              writer = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
                fs.create(tmpPath, true), java.nio.charset.StandardCharsets.UTF_8))
              if (hdr.nonEmpty) { writer.write(s"data_$key\n"); writer.write(hdr) }
            }
            writer.write(r.getString(1)); writer.write("\n")
          }
          commit()
        } finally {
          // failure path: a temp that was never renamed (whether or not
          // the writer reached close — e.g. commit()'s rename threw) must
          // not survive as an orphan in outDir
          if (writer != null) writer.close()
          if (fs != null && tmpPath != null && fs.exists(tmpPath))
            fs.delete(tmpPath, false)
        }
      }
  }

  /** The reference's dynamic-named CSV report sink (py:304-318): exact
    * reference headers (chain ids interpolated into column names,
    * py:306-312) and a single file named
    * `interaction_analysis_PAE_{pae}_max_dist_{d}.csv`, not a part-file
    * directory — so downstream tooling written for the reference reads it
    * unchanged. The part-file promotion runs through the Hadoop
    * FileSystem of `outDir` (local, HDFS, or object store alike).
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
    val tmp = s"$outDir/.$name.tmp"
    renamed.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val conf = report.sparkSession.sparkContext.hadoopConfiguration
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    // raw fs: the rename moves only the csv, leaving any .crc sibling
    // behind in the temp dir, which is deleted wholesale below
    val fs = rawFs(tmpPath, conf)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(tmp, "part-*.csv"))
      .headOption.getOrElse(sys.error(s"no csv part written under $tmp")).getPath
    val target = new org.apache.hadoop.fs.Path(outDir, s"$name.csv")
    if (fs.exists(target)) fs.delete(target, false)
    // a failed rename leaves the temp dir (and the report in it) in place
    renameOrFail(fs, part, target)
    fs.delete(tmpPath, true)
  }
}
