package graft.af3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Scalars

/** AF3 bundle readers — explicit schemas, never inferred (SURVEY §1.2).
  * Every frame carries `job_dir` (parent folder name) as the end-to-end
  * partition key: one job's data stays co-located through the whole
  * pipeline, so per-job operators shuffle once on `job_dir` and never
  * again.
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

  private def rawSummaries(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(summarySchema)
      .option("multiLine", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*_summary_confidences_0.json")
      .json(inputDir)
      .withColumn("__path", input_file_name())
      .filter(!Scalars.baseName(col("__path")).startsWith("._"))

  private def rawFullData(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(fullDataSchema)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*_full_data_0.json")
      .json(inputDir)
      .withColumn("__path", input_file_name())
      .filter(!Scalars.baseName(col("__path")).startsWith("._"))

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
    // cache: Spark forbids filtering a raw JSON scan on only the corrupt
    // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materializing first is
    // the documented workaround, and the summaries table is tiny
    rawSummaries(spark, inputDir).cache()
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

    def paths(glob: String): DataFrame =
      spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(inputDir)
        .select(col("path").as("__path"))

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

    // summaries: one scan; _corrupt == structural corruption (see note)
    val summaries = rawSummaries(spark, inputDir).cache()
      .select(Scalars.parentDirName(col("__path")).as("job_dir"), base.as("file"),
        lit("summary").as("kind"),
        when(col("_corrupt").isNull, "parsed")
          .otherwise("corrupt_json").as("status"))

    // full_data: corrupt vs missing pae/token_res_ids vs parsed
    val full = rawFullData(spark, inputDir).cache()
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
    val cifs = paths("*.cif")
      .filter(!base.startsWith("._"))
      .select(Scalars.parentDirName(col("__path")).as("job_dir"), base.as("file"))
      .withColumn("model_idx", regexp_extract(col("file"), cifRe, 2).cast("int"))
      .join(cifCounts, Seq("job_dir", "model_idx"), "left")
      .select(col("job_dir"), col("file"), lit("cif").as("kind"),
        when(col("__n") > 0, "parsed").otherwise("no_atoms").as("status"))

    summaries.unionByName(full).unionByName(cifs).unionByName(hidden)
  }

  /** Read all full_data files under `inputDir`, exploded to long/COO form
    * `(job_dir, i, j, pae)` — the transpose of py:215 is a no-op here, and
    * the explode shards the N^2 matrix across the cluster instead of
    * holding it in one pandas frame.
    */
  def readPaeLong(spark: SparkSession, inputDir: String): DataFrame = {
    val raw = rawFullData(spark, inputDir)
      .withColumn("job_dir", Scalars.parentDirName(col("__path")))
      // both keys must be present or the whole file is dropped (py:111-113)
      .filter(col("pae").isNotNull && col("token_res_ids").isNotNull)
    raw.select(col("job_dir"), posexplode(col("pae")).as(Seq("i", "row")))
      .select(col("job_dir"), col("i"), posexplode(col("row")).as(Seq("j", "pae")))
  }
}
