package graft.af3

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.SparkSpec
import graft.functions.Scalars

/** The `full_data` reader ([[Af3Io.TaskState]]'s `fullData` +
  * [[Af3Io.paeMatrices]]), which [[Af3Io.readPaeLong]] and a job's task
  * read with, against Spark's own scan of the files, `readPaeLong` here:
  * over an edge corpus, both must keep and drop the same files and rows
  * and yield every PAE cell with the same bits (`doubleToRawLongBits`)
  * and the same nulls. The streamed block count ([[Af3Io.paeHits]])
  * must give what [[Af3Io.paeBlockHits]] gives over those matrices,
  * for a grid of blocks and cutoffs.
  */
class FullDataReaderSpec extends SparkSpec {

  /** The reference: Spark's file-index scan of the `full_data` files
    * under `tree`, with [[Af3Io]]'s schema and options, keeping the rows
    * that hold both keys (py:111-113), keyed by the parent directory of
    * `input_file_name`.
    */
  private def readPaeLong(tree: String): DataFrame =
    spark.read.schema(Af3Io.fullDataSchema)
      .options(Af3Io.fullDataOptions ++ Map("recursiveFileLookup" -> "true",
        "pathGlobFilter" -> Af3Io.fullDataGlob))
      .json(tree)
      .filter(col("pae").isNotNull && col("token_res_ids").isNotNull)
      .select(Scalars.parentDirName(input_file_name()).as("job_dir"), col("pae"))

  private val row = "[[1.0, 2.5], [3.0, 4.0]]"

  /** (job dir, file bytes): one `full_data` file per job. */
  private val corpus: Seq[(String, Array[Byte])] = Seq(
    "plain" -> s"""{"pae": $row, "token_res_ids": [1, 2]}""",
    // a missing key, or a key set to null (py:111-113)
    "no_pae" -> """{"token_res_ids": [1, 2]}""",
    "no_ids" -> s"""{"pae": $row}""",
    "null_pae" -> """{"pae": null, "token_res_ids": [1, 2]}""",
    "null_ids" -> s"""{"pae": $row, "token_res_ids": null}""",
    // wrong types, at the top level and nested
    "pae_string" -> """{"pae": "oops", "token_res_ids": [1, 2]}""",
    "pae_flat" -> """{"pae": [1.0, 2.0], "token_res_ids": [1, 2]}""",
    "pae_cell_string" -> """{"pae": [[1.0, "x"], [2.0, 3.0]], "token_res_ids": [1, 2]}""",
    "pae_cell_object" -> """{"pae": [[1.0, {"a": 1}]], "token_res_ids": [1]}""",
    "pae_cell_bool" -> """{"pae": [[true, 1.0]], "token_res_ids": [1]}""",
    "ids_string" -> s"""{"pae": $row, "token_res_ids": "abc"}""",
    "ids_object" -> s"""{"pae": $row, "token_res_ids": {"a": 1}}""",
    "ids_cell_string" -> s"""{"pae": $row, "token_res_ids": [1, "a"]}""",
    "ids_cell_float" -> s"""{"pae": $row, "token_res_ids": [1.5, 2]}""",
    "ids_nested" -> s"""{"pae": $row, "token_res_ids": [[1], [2]]}""",
    "ids_huge" -> s"""{"pae": $row, "token_res_ids": [1, 99999999999]}""",
    // non-finite, integer, signed-zero and out-of-range cells
    "nan_strings" -> """{"pae": [["NaN", "Infinity"], ["-Infinity", "1.5"]], "token_res_ids": [1, 2]}""",
    "nan_bare" -> """{"pae": [[NaN, Infinity], [-Infinity, 1.5]], "token_res_ids": [1, 2]}""",
    "integers" -> """{"pae": [[1, 2], [30, 4]], "token_res_ids": [1, 2]}""",
    "signed_zero" -> """{"pae": [[-0.0, 0.0], [-0, 1e-320]], "token_res_ids": [1, 2]}""",
    "overflow" -> """{"pae": [[1e400, -1e400], [4.9e-324, 1.7976931348623157e308]], "token_res_ids": [1, 2]}""",
    // null rows, null cells, ragged and empty rows
    "null_rows" -> """{"pae": [[1.0, 2.0], null, [3.0]], "token_res_ids": [1, 2, 3]}""",
    "null_cells" -> """{"pae": [[null, 2.0], [3.0, null]], "token_res_ids": [1, 2]}""",
    "ragged" -> """{"pae": [[1.0], [2.0, 3.0, 4.0], []], "token_res_ids": [1, 2, 3]}""",
    "empty_matrix" -> """{"pae": [], "token_res_ids": []}""",
    // keys in either order, duplicated, and unknown keys holding nested
    // arrays or objects
    "ids_first" -> s"""{"token_res_ids": [1, 2], "pae": $row}""",
    "dup_pae" -> s"""{"pae": [[9.0]], "token_res_ids": [1], "pae": $row}""",
    "unknown_keys" -> (s"""{"atom_plddts": [1.0, 2.0], "contact_probs": [[0.1, 0.2], [0.3]], """ +
      s""""meta": {"a": [1, {"b": [null, "c"]}], "d": {}}, "pae": $row, "x": null, """ +
      """"token_res_ids": [1, 2], "y": [[[]]]}"""),
    // truncated after both keys, top-level arrays, empty and blank files
    "truncated" -> s"""{"pae": $row, "token_res_ids": [1, 2], "atom_plddts": [1.0, 2.""",
    "truncated_in_pae" -> """{"token_res_ids": [1, 2], "pae": [[1.0, 2.0], [3.""",
    "top_array" -> s"""[{"pae": $row, "token_res_ids": [1, 2]}, {"pae": [[7.0]], "token_res_ids": [1]}]""",
    "top_array_mixed" -> s"""[{"pae": $row, "token_res_ids": [1, 2]}, {"pae": [[7.0]]}, 5]""",
    "top_array_bad" -> s"""[{"pae": $row, "token_res_ids": [1, 2]}, {"pae": "x", "token_res_ids": [1]}]""",
    "top_scalar" -> "42",
    "empty" -> "",
    "blank" -> " \n ",
    "two_objects" -> s"""{"pae": $row, "token_res_ids": [1, 2]} {"pae": [[7.0]], "token_res_ids": [1]}""",
    // cells at, around and beyond the cutoffs of the block grid below
    "at_cutoff" -> ("""{"pae": [[2.5, 2.4999999999999996, 2.5000000000000004, 1], """ +
      """[-0.0, 0.0, NaN, 2.5], [null, 2.5, -Infinity, Infinity], [3, 2, 1, 0]], """ +
      """"token_res_ids": [1, 2, 3, 4]}"""),
    "wide_ragged" -> ("""{"meta": [1, 2], "pae": [[1.0, 2.0, 3.0, 4.0, 5.0], [1.0], null, """ +
      """[5.0, 4.0, 3.0, 2.0, 1.0, 0.5], []], "token_res_ids": [1, 2, 3, 4, 5]}"""),
    "dup_ids" -> s"""{"pae": $row, "token_res_ids": [1, 2], "token_res_ids": [1]}""",
    "ids_null_cell" -> s"""{"pae": $row, "token_res_ids": [1, null]}""",
    "no_pae_null_ids" -> """{"token_res_ids": null}"""
  ).map { case (job, text) => job -> text.getBytes(UTF_8) } ++ Seq(
    // latin-1 bytes: in an unknown string, in a key and in a cell
    "latin1_value" -> s"""{"name": "Protéine", "pae": $row, "token_res_ids": [1, 2]}""",
    "latin1_key" -> s"""{"é": 1, "pae": $row, "token_res_ids": [1, 2]}""",
    "latin1_cell" -> """{"pae": [["1é"]], "token_res_ids": [1]}"""
  ).map { case (job, text) => job -> text.getBytes(ISO_8859_1) } :+
    ("utf16" -> s"""{"pae": $row, "token_res_ids": [1, 2]}""".getBytes("UTF-16"))

  private def fullDataFiles: Seq[String] =
    Af3Io.bundleFiles(Af3Io.TaskState(spark).conf, tree).fullData

  private lazy val tree: String = {
    val root = Files.createTempDirectory("graft_full_data_corpus")
    for ((job, bytes) <- corpus) {
      val d = Files.createDirectories(root.resolve(job))
      Files.write(d.resolve(s"${job}_full_data_0.json"), bytes)
    }
    root.toString
  }

  /** A cell as its raw bits, `None` for a null cell. */
  private type Matrix = Seq[Option[Seq[Option[Long]]]]

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def fromScan(rows: collection.Seq[collection.Seq[java.lang.Double]]): Matrix =
    rows.toSeq.map(r => Option(r).map(_.toSeq.map(c => Option(c).map(x => bits(x.doubleValue)))))

  private def fromTask(m: ArrayData): Matrix =
    (0 until m.numElements()).map { i =>
      if (m.isNullAt(i)) None
      else {
        val r = m.getArray(i)
        Some((0 until r.numElements()).map(j => if (r.isNullAt(j)) None else Some(bits(r.getDouble(j)))))
      }
    }

  private def scan(): Map[String, Seq[Matrix]] =
    readPaeLong(tree).collect().toSeq
      .groupBy(_.getString(0))
      .map { case (job, rows) => job -> rows.map(r => fromScan(r.getSeq[collection.Seq[java.lang.Double]](1))) }

  private def inTask(): Map[String, Seq[Matrix]] = {
    val state = Af3Io.TaskState(spark)
    fullDataFiles.map { url =>
      url.split("/").init.last ->
        Af3Io.paeMatrices(state.fullData.read(state.conf, url)).map(fromTask)
    }.filter(_._2.nonEmpty).toMap
  }

  test("the in-task reader keeps, drops and reads every corpus file as readPaeLong does") {
    val want = scan()
    val got = inTask()
    for (job <- corpus.map(_._1))
      assert(got.get(job) === want.get(job), s"job $job")
    info("kept: " + want.toSeq.sortBy(_._1).map { case (j, ms) => s"$j(${ms.size})" }.mkString(" "))
    // the corpus exercises both outcomes
    assert(want.contains("plain") && want.contains("nan_bare") && want.contains("top_array"))
    assert(!want.contains("no_ids") && !want.contains("null_ids") && !want.contains("empty"))
    // full_data decoding is strict: a latin-1 byte in a string of a key
    // nothing reads drops the file in both readers
    assert(!want.contains("latin1_value") && !got.contains("latin1_value"))
  }

  test("the reader is serializable and reads the same inside a task") {
    val state = Af3Io.TaskState(spark)
    val urls = fullDataFiles
    val kept = spark.sparkContext.parallelize(urls, 4)
      .map(url =>
        url.split("/").init.last -> Af3Io.paeMatrices(state.fullData.read(state.conf, url)).size)
      .collect().toMap
    assert(kept.filter(_._2 > 0) === inTask().map { case (job, ms) => job -> ms.size })
  }

  /** A collected `pae` value as the scan's `ArrayData`, nulls kept. */
  private def arrayData(rows: collection.Seq[collection.Seq[java.lang.Double]]): ArrayData =
    new GenericArrayData(rows.map(r =>
      if (r == null) null else new GenericArrayData(r.map(c => c: Any).toArray)).toArray[Any])

  test("streamed PAE hits and cells equal PaeBlockHitsExpr.hits over readPaeLong's matrices") {
    val scanned = readPaeLong(tree).collect().toSeq.groupBy(_.getString(0))
      .map { case (job, rows) =>
        job -> rows.map(r => arrayData(r.getSeq[collection.Seq[java.lang.Double]](1))) }
    val state = Af3Io.TaskState(spark)
    // empty, in range, ragged, partly and wholly out of range, inverted
    val blocks = Seq((0L, 0L, 0L, 0L), (0L, 1L, 1L, 2L), (0L, 2L, 0L, 2L), (1L, 4L, 0L, 4L),
      (0L, 5L, 2L, 6L), (3L, 9L, 4L, 9L), (7L, 9L, 7L, 9L), (2L, 1L, 3L, 1L))
    val cutoffs = Seq(2.5, 1.0, 0.0, -0.0, 1e-320, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    var (streamed, fellBack) = (Set.empty[String], Set.empty[String])
    for (url <- fullDataFiles; block <- blocks; cutoff <- cutoffs; minHits <- Seq(0, 1, 2)) {
      val job = url.split("/").init.last
      val ms = scanned.getOrElse(job, Nil)
      val (a, b, c, d) = block
      val wantHits = ms.flatMap(m => Af3Io.paeBlockHits(m, a, b, c, d, cutoff, minHits)
        .toIntArray().toSeq)
      val wantCells = ms.map(m => (0 until m.numElements())
        .map(i => if (m.isNullAt(i)) 0L else m.getArray(i).numElements().toLong).sum).sum
      val got = Af3Io.paeHits(state, url, block, cutoff, minHits)
      val at = s"job $job, block $block, cutoff $cutoff, min $minHits"
      assert(got.hits.toSeq === wantHits, at)
      // a stream that aborts part-way counts none of the cells it read
      assert(got.cells === wantCells, at)
      if (got.streamed) streamed += job else fellBack += job
    }
    info(s"streamed: ${streamed.toSeq.sorted.mkString(" ")}")
    info(s"fell back: ${fellBack.toSeq.sorted.mkString(" ")}")
    assert((streamed & fellBack).isEmpty)
    // a file the stream reads, whether readPaeLong keeps or drops it
    assert(Set("plain", "at_cutoff", "wide_ragged", "nan_bare", "signed_zero", "integers",
      "null_rows", "ragged", "unknown_keys", "ids_first", "null_pae").subsetOf(streamed))
    // a string, bool or object cell, a duplicate or missing key, a
    // top-level array, trailing bytes, a parse or decode error
    assert(Set("nan_strings", "pae_cell_bool", "pae_cell_object", "dup_pae", "dup_ids",
      "no_pae", "no_ids", "ids_null_cell", "ids_huge", "top_array", "two_objects",
      "truncated", "truncated_in_pae", "empty", "latin1_value", "pae_string")
      .subsetOf(fellBack))
  }

  test("readPaeLong gives the schema and rows of Spark's scan") {
    val got = Af3Io.readPaeLong(spark, tree)
    val want = readPaeLong(tree)
    assert(got.schema === want.schema)
    // Double.toString tells apart every value but NaN payloads
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    assert(rows(got) === rows(want))
  }
}
