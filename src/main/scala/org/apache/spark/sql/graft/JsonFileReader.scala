package org.apache.spark.sql.graft

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.hadoop.conf.Configuration

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptionsInRead}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{CodecStreams, PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.MultiLineJsonDataSource
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's multi-line JSON reader for one file, callable from any task:
  * the options, `JacksonParser` and `FailureSafeParser` (through
  * `MultiLineJsonDataSource.readFile`) a `spark.read.schema(schema)
  * .options(options).json(..)` scan builds for each file, with `schema`
  * its pruned read schema and `filters` its pushed data filters, so a
  * task gets the rows that scan would: the same parse mode, partial
  * results and corrupt-record handling. It holds no Hadoop conf: [[read]]
  * and [[tokens]] open the file with the caller's. Built on the driver
  * and broadcast, one instance serves every task thread of an executor,
  * so it is read-only: each call builds its own parser and stream, and
  * the options and the lazily built Jackson factory (thread-safe once
  * built) are only read.
  */
final class JsonFileReader private (options: JSONOptionsInRead, schema: StructType,
    filters: Seq[Filter]) extends Serializable {

  /** The rows of the file at `url` (a URL-encoded path), opened with `conf`. */
  def read(conf: Configuration, url: String): Iterator[InternalRow] = {
    val parser = new JacksonParser(
      StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord)), options,
      allowArrayAsStructs = true, filters)
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromUrlString(url), 0L, 0L,
      Array.empty[String], 0L, 0L, Map.empty[String, Any])
    MultiLineJsonDataSource.readFile(conf, file, parser, schema)
  }

  @transient private lazy val factory: JsonFactory = options.buildJsonFactory()

  /** `body` over the Jackson token stream of the file at `url`, opened
    * as [[read]] opens it: the same codec streams, the factory the
    * options build and the same decoding (the `encoding` option, or
    * Jackson's detection without it). The stream is closed after `body`.
    */
  def tokens[T](conf: Configuration, url: String)(body: JsonParser => T): T = {
    val in = CodecStreams.createInputStreamWithCloseResource(conf,
      SparkPath.fromUrlString(url).toPath)
    val parser = try options.encoding
      .map(CreateJacksonParser.inputStream(_, factory, in))
      .getOrElse(CreateJacksonParser.inputStream(factory, in))
    catch { case e: Throwable => in.close(); throw e }
    try body(parser) finally parser.close()
  }
}

object JsonFileReader {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def apply(spark: SparkSession, options: Map[String, String], schema: StructType,
      filters: Seq[Filter]): JsonFileReader = {
    val state = classic(spark).sessionState
    val parsed = new JSONOptionsInRead(options, state.conf.sessionLocalTimeZone,
      state.conf.columnNameOfCorruptRecord)
    require(parsed.multiLine, "JsonFileReader reads whole-file (multiLine) JSON only")
    new JsonFileReader(parsed, schema, filters)
  }

  /** Run `body`, which launches the jobs that call [[JsonFileReader.read]],
    * with the session's SQL conf visible to their tasks, as a Dataset
    * action has it: the parser reads its settings from there.
    */
  def withSessionConf[T](spark: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(classic(spark))(body)
}
