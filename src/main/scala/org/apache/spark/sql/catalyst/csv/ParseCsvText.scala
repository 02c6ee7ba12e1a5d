package org.apache.spark.sql.catalyst.csv

import java.io.ByteArrayInputStream

import com.univocity.parsers.csv.CsvParser

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** The schema and rows `spark.read.option("header", true)
  * .option("inferSchema", true).option("multiLine", true).csv(path)`
  * gives for one CSV text as a file, computed on the calling thread with
  * no Spark job: the text is one record stream, so a quoted field may
  * hold line breaks, and CRLF or LF line endings are detected. The first
  * record is the header (`makeSafeHeader` names blank and duplicate
  * columns); the types are the inference job's fold (`inferRowType`
  * over the records, `mergeRowTypes` into the zero row,
  * `toStructFields`) and the rows are `UnivocityParser.parseStream`'s,
  * all under the session's conf. The parsing internals are private to
  * Spark, hence this package.
  */
object ParseCsvText {
  def apply(spark: SparkSession, text: String): (StructType, Seq[InternalRow]) = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new CSVOptions(Map("header" -> "true",
        "inferSchema" -> "true", "multiLine" -> "true"),
        conf.csvColumnPruning, conf.sessionLocalTimeZone)
      def stream() = new ByteArrayInputStream(text.getBytes(options.charset))
      def records(dropHeader: Boolean) = UnivocityParser.tokenizeStream(
        stream(), dropHeader, new CsvParser(options.asParserSettings),
        options.charset)
      val schema = records(dropHeader = false).nextOption() match {
        case None => StructType(Nil)
        case Some(first) =>
          val header = CSVUtils.makeSafeHeader(first,
            conf.caseSensitiveAnalysis, options)
          val inference = new CSVInferSchema(options)
          def zero = Array.fill[DataType](header.length)(NullType)
          val types = inference.mergeRowTypes(zero,
            records(dropHeader = true).foldLeft(zero)(inference.inferRowType))
          StructType(inference.toStructFields(types, header))
      }
      val rows = UnivocityParser.parseStream(stream(),
        new UnivocityParser(schema, options),
        new CSVHeaderChecker(schema, options, "CSV upload",
          isStartOfFile = true),
        schema)
        .map(_.copy()) // the parser reuses one row
        .toVector
      (schema, rows)
    }
  }
}
