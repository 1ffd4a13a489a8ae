package graft.af3

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.JsonToken._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, GlobFilter, Path}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{FileIndexRules, JsonFileReader, PaeBlockHitsExpr}
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

  private val summaryGlob = "*_summary_confidences_0.json"
  private val fullDataGlob = "*_full_data_0.json"

  private def options(glob: String) = Map("multiLine" -> "true", "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt", "recursiveFileLookup" -> "true",
    "pathGlobFilter" -> glob)

  private val summaryOptions = options(summaryGlob) + ("encoding" -> "UTF-8")
  private val fullDataOptions = options(fullDataGlob)

  private def rawSummaries(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(summarySchema).options(summaryOptions).json(inputDir)
      .withColumn("__path", input_file_name())

  private def rawFullData(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(fullDataSchema).options(fullDataOptions).json(inputDir)
      .withColumn("__path", input_file_name())

  /** The bundle files under a tree, as URL-encoded paths, and its
    * AppleDouble `._` files ([[bundleFiles]]).
    */
  private[af3] final case class BundleFiles(summaries: Seq[String], fullData: Seq[String],
      models: Seq[String], appleDouble: Seq[Path])

  /** The files [[readSummaries]], [[readPaeLong]] and
    * [[CifParser.readAtoms]] would read under `inputDir`, from one
    * `listStatus` walk on the driver that applies their file index's
    * rules: no file or directory whose name [[FileIndexRules.hidden]]
    * marks, each scan's glob on the file name. Also every `._` file,
    * in the directories walked; with `hiddenDirs` the walk enters hidden
    * directories too, for their `._` files only.
    */
  private[af3] def bundleFiles(conf: Configuration, inputDir: String,
      hiddenDirs: Boolean = false): BundleFiles = {
    val visible = Vector.newBuilder[Path]
    val appleDouble = Vector.newBuilder[Path]
    def walk(fs: FileSystem, dir: Path, shown: Boolean): Unit = fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val show = shown && !FileIndexRules.hidden(name)
      if (st.isDirectory) { if (show || hiddenDirs) walk(fs, st.getPath, show) }
      else {
        if (name.startsWith("._")) appleDouble += st.getPath
        if (show) visible += st.getPath
      }
    }
    FileIndexRules.roots(inputDir, conf).foreach(r => walk(r.getFileSystem(conf), r, shown = true))
    val files = visible.result()
    def matching(glob: String) = {
      val g = new GlobFilter(glob)
      files.filter(g.accept).map(SparkPath.fromPath(_).urlEncoded)
    }
    BundleFiles(matching(summaryGlob), matching(fullDataGlob), matching(CifParser.cifGlob),
      appleDouble.result())
  }

  /** [[readSummaries]]' scan of one file, for a task that reads it
    * itself: its options and full schema, `_corrupt` included. Its rows
    * go through [[Af3Pipeline.passesGate]].
    */
  private[af3] def summaryReader(spark: SparkSession): JsonFileReader =
    JsonFileReader(spark, summaryOptions, summarySchema, Nil)

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

  /** One `full_data` file's partner hits for a PAE block, as
    * [[PaeBlockHitsExpr.hits]] over its [[paeMatrices]] gives them, the
    * count of cells in those matrices' non-null rows, and whether the
    * token stream ([[streamPaeHits]]) served them or the file fell back
    * to the whole parse.
    */
  private[af3] final case class PaeHits(hits: Array[Int], cells: Long, streamed: Boolean)

  /** [[PaeHits]] of the file at `url` for the block `(start_poi,
    * end_poi, start_partner, end_partner)` of [[Af3Pipeline.paeBlock]]:
    * streamed when the file has the shape [[streamPaeHits]] reads, else
    * from `reader`'s rows, as [[readPaeLong]] reads the file.
    */
  private[af3] def paeHits(reader: JsonFileReader, url: String, block: (Long, Long, Long, Long),
      cutoff: Double, minHits: Int): PaeHits = {
    val (a, b, c, d) = block
    def cells(m: ArrayData) = (0 until m.numElements()).map(i =>
      if (m.isNullAt(i)) 0L else m.getArray(i).numElements().toLong).sum
    streamPaeHits(reader, url, block, cutoff, minHits).getOrElse {
      val ms = paeMatrices(reader.read(url))
      PaeHits(ms.flatMap(m => PaeBlockHitsExpr.hits(m, a, b, c, d, cutoff, minHits).toIntArray())
        .toArray, ms.map(cells).sum, streamed = false)
    }
  }

  /** [[paeHits]] from Jackson's token stream of the file, without
    * building the matrix: only the block's cells are converted to
    * doubles (`getDoubleValue`, as Spark's parser converts them); every
    * other value has its token type checked. The stream serves exactly
    * one top-level object with one `pae` key, an array of rows that are
    * null or arrays of numbers and nulls, or null, and one
    * `token_res_ids` key, an array of `NumberType.INT`s; other keys are
    * skipped as Spark's parser skips them. Anything else, a parse or
    * decode error included, gives `None`, and nothing of the stream is
    * counted.
    */
  private def streamPaeHits(reader: JsonFileReader, url: String,
      block: (Long, Long, Long, Long), cutoff: Double, minHits: Int): Option[PaeHits] = {
    val (startPoi, endPoi, startPartner, endPartner) = block
    val jLo = math.max(startPartner, 0L)
    try reader.tokens(url) { in =>
      val counts = new Array[Int](math.max(endPartner - jLo, 0L).toInt)
      var cells = 0L
      // the pae value: false unless it is null or a matrix of numbers
      def matrix(): Boolean = in.currentToken match {
        case VALUE_NULL => true
        case START_ARRAY =>
          var i = 0L
          var ok = true
          var t = in.nextToken()
          while (ok && t != END_ARRAY) {
            if (t == START_ARRAY) {
              val poi = i >= startPoi && i < endPoi
              var j = 0L
              t = in.nextToken()
              while (ok && t != END_ARRAY) {
                if (t == VALUE_NUMBER_FLOAT || t == VALUE_NUMBER_INT) {
                  if (poi && j >= jLo && j < endPartner && in.getDoubleValue < cutoff)
                    counts((j - jLo).toInt) += 1
                } else ok = t == VALUE_NULL
                j += 1
                t = in.nextToken()
              }
              cells += j
            } else ok = t == VALUE_NULL
            i += 1
            if (ok) t = in.nextToken()
          }
          ok
        case _ => false
      }
      def ids(): Boolean = in.currentToken == START_ARRAY && {
        var t = in.nextToken()
        while (t == VALUE_NUMBER_INT && in.getNumberType == NumberType.INT) t = in.nextToken()
        t == END_ARRAY
      }
      var paeKeys, idKeys = 0
      var paeNull = false
      var ok = in.nextToken() == START_OBJECT
      var t = if (ok) in.nextToken() else null
      while (ok && t == FIELD_NAME) {
        val name = in.currentName
        in.nextToken()
        name match {
          case "pae" =>
            paeKeys += 1
            paeNull = in.currentToken == VALUE_NULL
            ok = paeKeys == 1 && matrix()
          case "token_res_ids" => idKeys += 1; ok = idKeys == 1 && ids()
          case _ => in.skipChildren()
        }
        if (ok) t = in.nextToken()
      }
      if (!ok || t != END_OBJECT || in.nextToken() != null || paeKeys != 1 || idKeys != 1) None
      // a null pae drops the file, as readPaeLong's not-null filter does
      else if (paeNull) Some(PaeHits(Array.emptyIntArray, 0L, streamed = true))
      else {
        // PaeBlockHitsExpr.hits' rule: a column counts once it has
        // max(minHits, 1) hits, numbered from 1 at start_partner
        val need = math.max(minHits, 1)
        Some(PaeHits(counts.indices.filter(counts(_) >= need)
          .map(k => (jLo + k - startPartner + 1).toInt).toArray, cells, streamed = true))
      }
    } catch { case NonFatal(_) => None }
  }

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
      bundleFiles(spark.sparkContext.hadoopConfiguration, inputDir, hiddenDirs = true)
        .appleDouble.map(p => (p.getParent.getName, p.getName)).toDF("job_dir", "file")
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
