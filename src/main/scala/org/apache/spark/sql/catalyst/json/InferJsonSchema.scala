package org.apache.spark.sql.catalyst.json

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The schema `spark.read.json(records.toDS())` infers, computed on the
  * calling thread with no Spark job: the same `JsonInferSchema` steps
  * that job runs (parse and `inferField` per record, merge from an empty
  * root with `compatibleRootType`, `canonicalizeType`), under the
  * session's conf. A record that does not parse gives the corrupt-record
  * column, as the permissive read does. The inference internals are
  * private to Spark, hence this package.
  */
object InferJsonSchema {

  /** The schema of one document. */
  def apply(spark: SparkSession, json: String): StructType =
    withOptions(spark)(infer(_, Seq(json)))

  /** Runs `body` with the options a plain `spark.read.json` uses, under
    * the session's conf.
    */
  private[json] def withOptions[T](spark: SparkSession)(
      body: JSONOptions => T): T = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      body(new JSONOptions(Map.empty[String, String],
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord))
    }
  }

  private[json] def infer(options: JSONOptions,
      records: Seq[String]): StructType = {
    val inference = new JsonInferSchema(options)
    val factory = options.buildJsonFactory()
    val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    val root = records.map { r =>
      try {
        val parser = CreateJacksonParser.string(factory, r)
        try {
          parser.nextToken()
          inference.inferField(parser)
        } finally parser.close()
      } catch {
        case NonFatal(_) => StructType(Seq(
          StructField(options.columnNameOfCorruptRecord, StringType)))
      }
    }.foldLeft(StructType(Nil): DataType)(merge)
    // canonicalizeType erases empty structs, the root's included
    inference.canonicalizeType(root, options)
      .collect { case s: StructType => s }
      .getOrElse(StructType(Nil))
  }
}

/** The schema and rows an uploaded JSON text holds, computed on the
  * calling thread with no Spark job. Every root-level value is one
  * record, so JSON Lines, one document, a one-line or pretty-printed
  * array and blank lines all read; each record then reads as in
  * `spark.read.json(records.toDS())`: [[InferJsonSchema]]'s schema, and
  * [[reader]]'s rows. Text whose root values do not all parse is split
  * into its non-blank lines instead, and a line that does not parse
  * gives a corrupt-record row, as a JSON Lines file read does.
  */
object ParseJsonText {
  def apply(spark: SparkSession, text: String): (StructType, Seq[InternalRow]) = {
    val (records, schema) = InferJsonSchema.withOptions(spark) { options =>
      val records = rootValues(options, text)
      (records, InferJsonSchema.infer(options, records))
    }
    (schema, records.flatMap(reader(spark, schema)))
  }

  /** A reader of one JSON record with `schema`, built under the
    * session's conf, reading on the calling thread: the rows
    * `spark.read.schema(schema).json(Seq(record).toDS())` gives
    * (`JacksonParser`, where a root array contributes its elements, under
    * a permissive `FailureSafeParser`), copied. The reader reuses its
    * parser, so one caller reads at a time. The event gateway reads each
    * webhook payload as one record with its shape's reader.
    */
  def reader(spark: SparkSession, schema: StructType): String => Seq[InternalRow] =
    InferJsonSchema.withOptions(spark) { options =>
      val corrupt = options.columnNameOfCorruptRecord
      val parser = new JacksonParser(
        StructType(schema.filterNot(_.name == corrupt)), options,
        allowArrayAsStructs = true)
      val safe = new FailureSafeParser[String](
        parser.parse(_, CreateJacksonParser.string, UTF8String.fromString),
        options.parseMode, schema, corrupt)
      // a corrupt row is one row the parser reuses
      record => safe.parse(record).map(_.copy()).toSeq
    }

  /** The text of each root-level value, from its first character to the
    * next value's, trailing whitespace trimmed.
    */
  private def rootValues(options: JSONOptions, text: String): Seq[String] =
    try {
      val parser = CreateJacksonParser.string(options.buildJsonFactory(), text)
      try {
        val starts = ArrayBuffer[Int]()
        while (parser.nextToken() != null) {
          starts += parser.currentTokenLocation().getCharOffset.toInt
          parser.skipChildren()
        }
        starts.zip(starts.drop(1) :+ text.length).map {
          case (from, until) => text.substring(from, until).stripTrailing()
        }.toSeq
      } finally parser.close()
    } catch {
      case NonFatal(_) => text.linesIterator.filter(_.trim.nonEmpty).toSeq
    }
}
