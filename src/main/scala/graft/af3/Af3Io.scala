package graft.af3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JsonFileReader
import org.apache.spark.sql.sources.IsNotNull
import org.apache.spark.sql.types._

import graft.functions.Scalars

/** AF3 bundle readers — explicit schemas, never inferred (SURVEY §1.2).
  * Every frame carries `job_dir` (parent folder name), the unit of work:
  * [[readPaeLong]] holds one complex's N x N PAE matrix in one row.
  */
object Af3Io {

  /** summary_confidences JSON (py:67-84). Corrupt/malformed files surface
    * as a `_corrupt` row (PERMISSIVE), which the gate treats as non-binder
    * — the reference's return-False-on-JSONDecodeError (py:74-77).
    */
  val summarySchema: StructType = StructType(Seq(
    StructField("iptm", DoubleType),
    StructField("ptm", DoubleType),
    StructField("chain_pair_pae_min", ArrayType(ArrayType(DoubleType))),
    StructField("_corrupt", StringType)))

  /** full_data JSON (py:107-124): `pae` N x N + `token_res_ids` presence
    * check (py:112-113 — the value itself is never used downstream).
    */
  val fullDataSchema: StructType = StructType(Seq(
    StructField("pae", ArrayType(ArrayType(DoubleType))),
    StructField("token_res_ids", ArrayType(IntegerType)),
    StructField("_corrupt", StringType)))

  private def options(glob: String) = Map("multiLine" -> "true", "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt", "recursiveFileLookup" -> "true",
    "pathGlobFilter" -> glob)

  private val fullDataOptions = options("*_full_data_0.json")

  private def rawSummaries(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(summarySchema)
      .options(options("*_summary_confidences_0.json") + ("encoding" -> "UTF-8"))
      .json(inputDir).withColumn("__path", input_file_name())

  private def rawFullData(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(fullDataSchema).options(fullDataOptions).json(inputDir)
      .withColumn("__path", input_file_name())

  /** The `full_data` files under `inputDir`, as URL-encoded paths:
    * listed by Spark's file index with [[readPaeLong]]'s rules (hidden
    * names skipped, same glob), without running a job.
    */
  private[af3] def fullDataFiles(spark: SparkSession, inputDir: String): Seq[String] =
    rawFullData(spark, inputDir).inputFiles.toSeq

  /** [[readPaeLong]]'s scan of one file, for a task that reads it
    * itself: Spark's JSON parser with the options, pruned read schema and
    * pushed not-null filters Spark plans for that scan. Its rows go
    * through [[paeMatrices]].
    */
  private[af3] def fullDataReader(spark: SparkSession): JsonFileReader =
    JsonFileReader(spark, fullDataOptions,
      StructType(fullDataSchema.filter(_.name != "_corrupt")),
      Seq(IsNotNull("pae"), IsNotNull("token_res_ids")))

  /** The PAE matrices [[readPaeLong]] keeps from the rows of one file
    * ([[fullDataReader]]): both keys must be present (py:111-113).
    */
  private[af3] def paeMatrices(rows: Iterator[InternalRow]): Seq[ArrayData] =
    rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(_.getArray(0)).toSeq

  /** Read all summaries under `inputDir` keyed by job_dir. Exactly one
    * row per summary file; malformed files carry `_corrupt` and fall
    * out at the gate (≙ return False, py:74-77).
    *
    * The reference's latin-1 re-read (py:68-73) is intentionally NOT
    * mirrored as a second scan: Python's strict UTF-8 decoder throws on
    * latin-1 bytes, but Spark's JSON reader decodes them with
    * replacement characters and still parses the document — `_corrupt`
    * here marks structural JSON corruption, which no alternate encoding
    * could fix (proven by the latin-1 fixture parsing green under
    * UTF-8). One scan covers both of the reference's cases.
    */
  def readSummaries(spark: SparkSession, inputDir: String): DataFrame =
    rawSummaries(spark, inputDir)
      .withColumn("job_dir", Scalars.parentDirName(col("__path")))
      .drop("__path")

  /** side_logging (reference py:16-21 + its ~40 call sites): the
    * reference logs one status line per file it touches; here the same
    * information is an observability DataFrame — per-file status
    * collected as data, queryable/joinable/sinkable like any other frame
    * (and shardable at 100 TB, unlike a log file).
    *
    * One row per discovered bundle file:
    * (job_dir, file, kind, status) with
    * kind ∈ summary | full_data | cif | hidden and status ∈
    * parsed | corrupt_json (py:74-77) | missing_keys (py:111-113) |
    * no_atoms | skipped_hidden (py:560-566).
    *
    * Note on encodings: Spark's JSON reader decodes bad bytes with
    * replacement characters rather than failing, so a latin-1 summary
    * reads as `parsed` under UTF-8 — `_corrupt` marks structural JSON
    * corruption only, which no re-read in another encoding could fix.
    * (The reference's latin-1 retry, py:71-73, exists because Python's
    * strict decoder throws where Spark's lenient one does not.)
    */
  def runLog(spark: SparkSession, inputDir: String): DataFrame = {
    val base = Scalars.baseName(col("__path"))

    // hidden AppleDouble files of any kind: reported, never parsed.
    // Spark's file index hides dot-files from every source, so this
    // branch lists them through the Hadoop FileSystem directly — pure
    // file metadata, the same driver-side listing any Spark scan does.
    val hidden = {
      import spark.implicits._
      val fs = new org.apache.hadoop.fs.Path(inputDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(inputDir), true)
      val found = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.startsWith("._"))
          found += ((p.getParent.getName, p.getName))
      }
      found.toSeq.toDF("job_dir", "file")
        .select(col("job_dir"), col("file"),
          lit("hidden").as("kind"), lit("skipped_hidden").as("status"))
    }

    // summaries: one scan; _corrupt == structural corruption (see note).
    // The status must come from a parse against the full schema, as the
    // gate reads it: Spark refuses a JSON scan pruned to the corrupt
    // column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and a scan pruned
    // to fewer fields would call a summary whose pruned field has the
    // wrong type `parsed`. The RDD boundary stops the pruning without
    // caching anything in the session.
    val raw = rawSummaries(spark, inputDir)
    val summaries = spark.createDataFrame(raw.rdd, raw.schema)
      .select(Scalars.parentDirName(col("__path")).as("job_dir"), base.as("file"),
        lit("summary").as("kind"),
        when(col("_corrupt").isNull, "parsed")
          .otherwise("corrupt_json").as("status"))

    // full_data: corrupt vs missing pae/token_res_ids vs parsed
    val full = rawFullData(spark, inputDir)
      .select(Scalars.parentDirName(col("__path")).as("job_dir"), base.as("file"),
        lit("full_data").as("kind"),
        when(col("_corrupt").isNotNull, "corrupt_json")
          .when(col("pae").isNull || col("token_res_ids").isNull, "missing_keys")
          .otherwise("parsed").as("status"))

    // cif model files: parsed iff the _atom_site loop yielded atoms
    val cifCounts = CifParser.readAtomsDf(spark, inputDir)
      .groupBy(col("job_dir"), col("model_idx"))
      .agg(count(lit(1)).as("__n"))
    val cifRe = "^(.*)_model_(\\d+)\\.cif$"
    val cifs = CifParser.modelScan(spark, inputDir).select(col("path").as("__path"))
      .select(Scalars.parentDirName(col("__path")).as("job_dir"), base.as("file"))
      .withColumn("model_idx", regexp_extract(col("file"), cifRe, 2).cast("int"))
      .join(cifCounts, Seq("job_dir", "model_idx"), "left")
      .select(col("job_dir"), col("file"), lit("cif").as("kind"),
        when(col("__n") > 0, "parsed").otherwise("no_atoms").as("status"))

    summaries.unionByName(full).unionByName(cifs).unionByName(hidden)
  }

  /** Read all full_data files under `inputDir`, one row per job:
    * `(job_dir, pae)` with the whole N x N matrix as
    * `array<array<double>>` (the transpose of py:215 is a no-op here).
    * A job's matrix is the unit of work of the PAE block count
    * ([[Af3Pipeline.interactingResidues]]), so the working set per task is
    * one complex's N^2 cells, never the N^2 rows a long form would
    * materialize; the frame scales with the number of jobs.
    *
    * Decoding is strict on purpose: unlike [[readSummaries]] the scan
    * sets no `encoding`, so a file with a byte that is not UTF-8, even in
    * a string of a key nothing reads, is dropped whole, and its job gets
    * no interacting residues. The reference's `extract_pae_data` returns
    * None on any error (py:107-124); its latin-1 retry (py:68-73) is for
    * summaries only. [[fullDataReader]] decodes the same way.
    */
  def readPaeLong(spark: SparkSession, inputDir: String): DataFrame =
    rawFullData(spark, inputDir)
      // both keys must be present or the whole file is dropped (py:111-113)
      .filter(col("pae").isNotNull && col("token_res_ids").isNotNull)
      .select(Scalars.parentDirName(col("__path")).as("job_dir"), col("pae"))
}
