package graft.af3

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.JsonToken._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, GlobFilter, Path}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{ColumnBridge, FileIndexRules, JsonFileReader}
import org.apache.spark.sql.sources.IsNotNull
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

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

  private[af3] val summaryGlob = "*_summary_confidences_0.json"
  private[af3] val fullDataGlob = "*_full_data_0.json"
  private val modelGlob = "*.cif"

  private[af3] val fullDataOptions = Map("multiLine" -> "true", "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt")
  private[af3] val summaryOptions = fullDataOptions + ("encoding" -> "UTF-8")

  /** What every AF3 Spark job's tasks read and write with, in one
    * broadcast ([[withBroadcast]], [[perFile]]): the session's Hadoop
    * conf, as a Spark file scan reads with (the context's conf and the
    * session's settings), and the JSON readers, which open files with it.
    * The driver lists ([[bundleFiles]]) and writes the report with it
    * too. All task threads of an executor share the value: it is read-only.
    * `summaries` reads a summary ([[summaryOptions]], [[summarySchema]])
    * for [[Af3Pipeline.passesGate]], [[readSummaries]] and [[runLog]];
    * `fullData` a `full_data` file for its [[paeMatrices]] (the read
    * schema and not-null filters Spark plans for a `pae`/`token_res_ids`
    * scan); `fullDataRecords` one in the full [[fullDataSchema]], for
    * [[runLog]]'s statuses.
    */
  private[graft] final case class TaskState(hadoopConf: SerializableConfiguration,
      summaries: JsonFileReader, fullData: JsonFileReader, fullDataRecords: JsonFileReader) {
    def conf: Configuration = hadoopConf.value
  }

  private[graft] object TaskState {
    def apply(spark: SparkSession): TaskState = {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      TaskState(new SerializableConfiguration(session.sessionState.newHadoopConf()),
        JsonFileReader(spark, summaryOptions, summarySchema, Nil),
        JsonFileReader(spark, fullDataOptions,
          StructType(fullDataSchema.filter(_.name != "_corrupt")),
          Seq(IsNotNull("pae"), IsNotNull("token_res_ids"))),
        JsonFileReader(spark, fullDataOptions, fullDataSchema, Nil))
    }
  }

  /** The bundle files under a tree, as URL-encoded paths, and its
    * AppleDouble `._` files ([[bundleFiles]]).
    */
  private[af3] final case class BundleFiles(summaries: Seq[String], fullData: Seq[String],
      models: Seq[String], appleDouble: Seq[Path])

  /** The AF3 input files under `inputDir`, the one listing every AF3
    * read goes through: one `listStatus` walk on the driver with `conf`
    * ([[TaskState]]) and the rules of Spark's file index, no file or
    * directory whose name [[FileIndexRules.hidden]] marks, and each
    * kind's glob on the file name. Also every `._` file, in the directories walked; with
    * `hiddenDirs` the walk enters hidden directories too, for their `._`
    * files only.
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
    BundleFiles(matching(summaryGlob), matching(fullDataGlob), matching(modelGlob),
      appleDouble.result())
  }

  /** `state` broadcast for the tasks of the Spark jobs `body` runs, and
    * destroyed once `body` returns or throws. A task closure holds the
    * handle, and each executor fetches the one conf once per job, as
    * Spark's file scans ship their `broadcastedHadoopConf`. A frame that
    * outlives the call reads through [[perFile]] instead.
    */
  private[af3] def withBroadcast[R](spark: SparkSession, state: TaskState)(
      body: Broadcast[TaskState] => R): R = {
    val b = spark.sparkContext.broadcast(state)
    try body(b) finally b.destroy()
  }

  /** `read` over each of `files` in one Spark job, one task per file up
    * to the default parallelism, with `state` in one broadcast. The frames
    * built on it are lazy and may run again, so the broadcast is left to
    * Spark's `ContextCleaner`, as a file scan leaves its conf.
    */
  private[af3] def perFile[T: ClassTag, U: ClassTag](spark: SparkSession, state: TaskState,
      files: Seq[T])(read: (TaskState, T) => IterableOnce[U]): RDD[U] = {
    val sc = spark.sparkContext
    val shared = sc.broadcast(state)
    sc.parallelize(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
      .flatMap(read(shared.value, _))
  }

  /** (job, file name) of the file at `url`, a URL-encoded path, decoded
    * once: the names of its parent directory and of the file, the
    * reference's `os.path.basename(os.path.dirname(p))` and
    * `os.path.basename(p)` (py:115, 348-349, 522-523).
    */
  private[af3] def jobAndFile(url: String): (String, String) = {
    val path = SparkPath.fromUrlString(url).toPath
    (path.getParent.getName, path.getName)
  }

  private def jobDir(url: String): UTF8String = UTF8String.fromString(jobAndFile(url)._1)

  /** The PAE matrices [[readPaeLong]] keeps from the rows of one file
    * ([[TaskState.fullData]]): both keys must be present (py:111-113).
    */
  private[af3] def paeMatrices(rows: Iterator[InternalRow]): Seq[ArrayData] =
    rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(_.getArray(0)).toSeq

  /** The POI x partner block count of one job's PAE matrix (the
    * reference's threshold count, py:185-224): for each partner column j
    * in `[startPartner, endPartner)`, count the POI rows i in
    * `[startPoi, endPoi)` with `pae[i][j] < cutoff`, and return the
    * 1-based partner residue numbers `j - startPartner + 1` whose count
    * is `>= minHits`, ascending. The matrix is read in place (row views,
    * primitive `getDouble`), in two primitive loops over the POI rows,
    * one to size the column counters, one to count. Cells that do not
    * exist (ranges past the matrix, ragged rows, null rows) and null
    * cells never count, as in the long form (every cell a row, then
    * filter and count per column); NaN fails `<` as it does in Spark. A
    * column counts only once it has a hit, so `minHits <= 0` still emits
    * only columns with at least one cell under the cutoff, as the long
    * form's groupBy did.
    */
  private[af3] def paeBlockHits(pae: ArrayData, startPoi: Long, endPoi: Long, startPartner: Long,
      endPartner: Long, cutoff: Double, minHits: Int): ArrayData = {
    val rows = pae.numElements().toLong
    val iLo = math.min(math.max(startPoi, 0L), rows).toInt
    val iHi = math.min(endPoi, rows).toInt
    val jLo = math.max(startPartner, 0L)
    var width = 0
    var i = iLo
    while (i < iHi) {
      if (!pae.isNullAt(i))
        width = math.max(width,
          (math.min(endPartner, pae.getArray(i).numElements().toLong) - jLo).toInt)
      i += 1
    }
    val counts = new Array[Int](width)
    i = iLo
    while (i < iHi) {
      if (!pae.isNullAt(i)) {
        val row = pae.getArray(i)
        val n = (math.min(endPartner, row.numElements().toLong) - jLo).toInt
        val base = jLo.toInt
        var k = 0
        while (k < n) {
          if (!row.isNullAt(base + k) && row.getDouble(base + k) < cutoff) counts(k) += 1
          k += 1
        }
      }
      i += 1
    }
    val need = math.max(minHits, 1)
    val res = new Array[Int](counts.count(_ >= need))
    var k = 0
    var r = 0
    while (k < width) {
      if (counts(k) >= need) { res(r) = (jLo + k - startPartner + 1).toInt; r += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(res)
  }

  /** One `full_data` file's partner hits for a PAE block, as
    * [[paeBlockHits]] over its [[paeMatrices]] gives them, the
    * count of cells in those matrices' non-null rows, and whether the
    * token stream ([[streamPaeHits]]) served them or the file fell back
    * to the whole parse.
    */
  private[af3] final case class PaeHits(hits: Array[Int], cells: Long, streamed: Boolean)

  /** [[PaeHits]] of the file at `url` for the block `(start_poi,
    * end_poi, start_partner, end_partner)` of [[Af3Pipeline.paeBlock]]:
    * streamed when the file has the shape [[streamPaeHits]] reads, else
    * from `state.fullData`'s rows, as [[readPaeLong]] reads the file.
    */
  private[af3] def paeHits(state: TaskState, url: String, block: (Long, Long, Long, Long),
      cutoff: Double, minHits: Int): PaeHits = {
    val (a, b, c, d) = block
    def cells(m: ArrayData) = (0 until m.numElements()).map(i =>
      if (m.isNullAt(i)) 0L else m.getArray(i).numElements().toLong).sum
    streamPaeHits(state, url, block, cutoff, minHits).getOrElse {
      val ms = paeMatrices(state.fullData.read(state.conf, url))
      PaeHits(ms.flatMap(m => paeBlockHits(m, a, b, c, d, cutoff, minHits).toIntArray())
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
  private def streamPaeHits(state: TaskState, url: String,
      block: (Long, Long, Long, Long), cutoff: Double, minHits: Int): Option[PaeHits] = {
    val (startPoi, endPoi, startPartner, endPartner) = block
    val jLo = math.max(startPartner, 0L)
    try state.fullData.tokens(state.conf, url) { in =>
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
        // paeBlockHits' rule: a column counts once it has
        // max(minHits, 1) hits, numbered from 1 at start_partner
        val need = math.max(minHits, 1)
        Some(PaeHits(counts.indices.filter(counts(_) >= need)
          .map(k => (jLo + k - startPartner + 1).toInt).toArray, cells, streamed = true))
      }
    } catch { case NonFatal(_) => None }
  }

  /** Read all summaries under `inputDir` keyed by job_dir: the
    * [[TaskState.summaries]] rows of each file [[bundleFiles]] lists, in
    * one Spark job ([[perFile]]).
    * One row per JSON record (a top-level array gives one per element, an
    * empty or blank file none); malformed files carry
    * `_corrupt` and fall out at the gate (≙ return False, py:74-77).
    *
    * The reference's latin-1 re-read (py:68-73) is intentionally NOT
    * mirrored: Python's strict UTF-8 decoder throws on latin-1 bytes, but
    * Spark's JSON parser decodes them with replacement characters and
    * still parses the document — `_corrupt` marks structural JSON
    * corruption, which no alternate encoding could fix (the latin-1
    * fixture parses green under UTF-8).
    */
  def readSummaries(spark: SparkSession, inputDir: String): DataFrame = {
    val state = TaskState(spark)
    ColumnBridge.ofInternalRows(spark,
      perFile(spark, state, bundleFiles(state.conf, inputDir).summaries) { (s, url) =>
        val job = InternalRow(jobDir(url))
        s.summaries.read(s.conf, url).map[InternalRow](new JoinedRow(_, job))
      }, summarySchema.add("job_dir", StringType, nullable = false))
  }

  /** side_logging (reference py:16-21 + its ~40 call sites): the
    * reference logs one status line per file it touches; here the same
    * information is a DataFrame, queryable/joinable/sinkable like any
    * other frame.
    *
    * One [[bundleFiles]] walk, into hidden directories too, and one
    * Spark job ([[perFile]]) that reads each listed file with the
    * pipeline's reader for it and gives it exactly one row: (job_dir,
    * file, kind, status) with kind ∈ summary | full_data | cif | hidden and
    * status ∈ parsed | corrupt_json (py:74-77) | missing_keys
    * (py:111-113) | no_atoms | skipped_hidden (py:560-566). A JSON file with no record (empty or
    * blank) or a corrupt one is `corrupt_json`, a `full_data` file with
    * no record holding both keys `missing_keys`, a model file without
    * atoms ([[CifParser.readModel]]) `no_atoms`. JSON is parsed against
    * the full schema, as the gate reads a summary, so a mistyped field is
    * `corrupt_json`; a latin-1 summary is `parsed` ([[readSummaries]]).
    */
  def runLog(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    val state = TaskState(spark)
    val files = bundleFiles(state.conf, inputDir, hiddenDirs = true)
    // (job_dir, file, kind, url); the `._` files are never opened
    val listed = Seq("summary" -> files.summaries, "full_data" -> files.fullData,
      "cif" -> files.models).flatMap { case (kind, urls) =>
        urls.map { u => val (job, file) = jobAndFile(u); (job, file, kind, u) }
      } ++ files.appleDouble.map(p => (p.getParent.getName, p.getName, "hidden", ""))
    def json(rows: Iterator[InternalRow], corrupt: Int)(keyed: InternalRow => Boolean) = {
      var (records, bad, keys) = (0, false, false)
      rows.foreach { r => records += 1; bad ||= !r.isNullAt(corrupt); keys ||= keyed(r) }
      if (records == 0 || bad) "corrupt_json" else if (keys) "parsed" else "missing_keys"
    }
    perFile(spark, state, listed) { case (s, (job, file, kind, url)) =>
      Some((job, file, kind, kind match {
        case "summary" => json(s.summaries.read(s.conf, url), 3)(_ => true)
        case "full_data" =>
          json(s.fullDataRecords.read(s.conf, url), 2)(r => !r.isNullAt(0) && !r.isNullAt(1))
        case "cif" => if (CifParser.readModel(s.conf, url).hasNext) "parsed" else "no_atoms"
        case _ => "skipped_hidden"
      }))
    }.toDF("job_dir", "file", "kind", "status")
  }

  /** Read all full_data files under `inputDir`, one row per job:
    * `(job_dir, pae)` with the whole N x N matrix as
    * `array<array<double>>` (the transpose of py:215 is a no-op here),
    * the [[paeMatrices]] of each file [[bundleFiles]] lists, in one Spark
    * job ([[perFile]]). A job's matrix is the unit of work of the PAE
    * block count ([[Af3Pipeline.interactingResidues]]): a task holds one
    * complex's N^2 cells, never the N^2 rows a long form would make.
    *
    * Decoding is strict on purpose: unlike [[readSummaries]] the reader
    * sets no `encoding`, so a file with a byte that is not UTF-8, even in
    * a string of a key nothing reads, is dropped whole, and its job gets
    * no interacting residues. The reference's `extract_pae_data` returns
    * None on any error (py:107-124); its latin-1 retry (py:68-73) is for
    * summaries only.
    */
  def readPaeLong(spark: SparkSession, inputDir: String): DataFrame = {
    val state = TaskState(spark)
    ColumnBridge.ofInternalRows(spark,
      perFile(spark, state, bundleFiles(state.conf, inputDir).fullData) { (s, url) =>
        paeMatrices(s.fullData.read(s.conf, url)).iterator.map(InternalRow(jobDir(url), _))
      },
      StructType(Seq(StructField("job_dir", StringType, nullable = false), fullDataSchema("pae"))))
  }
}
