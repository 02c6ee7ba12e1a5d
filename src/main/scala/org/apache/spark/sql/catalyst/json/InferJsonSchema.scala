package org.apache.spark.sql.catalyst.json

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The schema `spark.read.json(Seq(json).toDS())` infers for one
  * document, computed on the calling thread with no Spark job: the same
  * `JsonInferSchema` steps that job runs (parse and `inferField`, merge
  * into an empty root with `compatibleRootType`, `canonicalizeType`),
  * under the session's conf. Text that does not parse gives the
  * corrupt-record column, as the permissive read does. The inference
  * internals are private to Spark, hence this package.
  */
object InferJsonSchema {
  def apply(spark: SparkSession, json: String): StructType = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(Map.empty[String, String],
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val inference = new JsonInferSchema(options)
      val field =
        try {
          val parser =
            CreateJacksonParser.string(options.buildJsonFactory(), json)
          try {
            parser.nextToken()
            inference.inferField(parser)
          } finally parser.close()
        } catch {
          case NonFatal(_) => StructType(Seq(
            StructField(options.columnNameOfCorruptRecord, StringType)))
        }
      val root = JsonInferSchema.compatibleRootType(
        options.columnNameOfCorruptRecord, options.parseMode)(
        StructType(Nil), field)
      // canonicalizeType erases empty structs, the root's included
      inference.canonicalizeType(root, options)
        .collect { case s: StructType => s }
        .getOrElse(StructType(Nil))
    }
  }
}
