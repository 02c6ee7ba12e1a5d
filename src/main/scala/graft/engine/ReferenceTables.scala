package graft.engine

import java.time.Instant
import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.ParseCsvText
import org.apache.spark.sql.catalyst.json.ParseJsonText
import org.apache.spark.sql.types.StructType

/** Per-webhook uploaded enrichment tables (reference P4,
  * src/app.py:581-671): a CSV/JSON upload becomes a queryable table named
  * `ref_<webhookId>_<name>` that transform queries join against.
  *
  * Reference tables are dimension-sized by contract (they arrive in one
  * HTTP upload), so registering one runs no Spark job: the text is
  * parsed on the driver by Spark's own CSV and JSON machinery
  * ([[ParseCsvText]], [[ParseJsonText]]), the rows become a temp view
  * over a local relation, and the content is persisted as one parquet
  * file through [[DriverParquet]]. Nothing is cached: an equi-join from
  * the payload to these views compiles into a driver-side hash lookup
  * whose build side is a local scan, built once per
  * [[ReferenceTables.generation]] (see [[PayloadTransformer]]), and the
  * Spark path plans a local relation as a broadcast-sized join side.
  */
final class ReferenceTables(spark: SparkSession,
    store: Option[JsonStore] = None, contentDir: Option[String] = None) {

  private val meta = new TrieMap[String, RefTableMeta]() // qualified → meta

  // rehydrate persisted tables: metadata from the JSON snapshot, content
  // from the table's parquet directory (written by this class, or by the
  // Spark write earlier versions used; the read takes either)
  store.foreach(_.load().foreach { n =>
    val m = RefTableMeta(n.get("id").asText(), n.get("webhook_id").asText(),
      n.get("table_name").asText(), n.get("qualified_name").asText(),
      n.get("description").asText(),
      java.time.Instant.ofEpochMilli(
        n.path("created_at").asLong(0L)),
      java.time.Instant.ofEpochMilli(
        n.path("updated_at").asLong(0L)))
    contentDir.foreach { dir =>
      val path = s"$dir/${m.qualifiedName}"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        val df = spark.read.parquet(path)
        spark.createDataFrame(df.collectAsList(), df.schema)
          .createOrReplaceTempView(m.qualifiedName)
        meta.put(m.qualifiedName, m)
      }
    }
  })
  if (meta.nonEmpty) ReferenceTables.generations.incrementAndGet()

  private def persist(): Unit = store.foreach { s =>
    s.save(meta.values.toSeq.sortBy(_.qualifiedName).map { m =>
      val n = s.newNode()
      n.put("id", m.id)
      n.put("webhook_id", m.webhookId)
      n.put("table_name", m.tableName)
      n.put("qualified_name", m.qualifiedName)
      n.put("description", m.description)
      n.put("created_at", m.createdAt.toEpochMilli)
      n.put("updated_at", m.updatedAt.toEpochMilli)
      n
    })
  }

  def qualifiedName(webhookId: String, tableName: String): String = {
    // sanitize like src/app.py:605-607: non-alphanumerics → _
    val safe = tableName.replaceAll("[^A-Za-z0-9_]", "_")
    s"ref_${webhookId.replace("-", "_")}_$safe"
  }

  /** CSV text upload with header + schema inference (src/app.py:1019-1020);
    * a quoted field may span lines.
    */
  def uploadCsv(webhookId: String, tableName: String, description: String,
      csvText: String): RefTableMeta = {
    val (schema, rows) = ParseCsvText(spark, csvText)
    upload(webhookId, tableName, description, schema, rows)
  }

  /** JSON-lines / JSON-array text upload (src/app.py:1021-1022): every
    * root-level value is a record, a root array's elements are rows.
    */
  def uploadJson(webhookId: String, tableName: String, description: String,
      jsonText: String): RefTableMeta = {
    val (schema, rows) = ParseJsonText(spark, jsonText)
    upload(webhookId, tableName, description, schema, rows)
  }

  /** CTAS semantics: DROP + CREATE from the parsed upload, metadata
    * upserted (src/app.py:621-648). Re-upload replaces content (pinned
    * tests/test_reference_and_udf.py:82-153). The content is written
    * before the view is replaced, so a failed write leaves the old table
    * in place.
    */
  private def upload(webhookId: String, tableName: String,
      description: String, schema: StructType,
      rows: Seq[InternalRow]): RefTableMeta = synchronized {
    val qname = qualifiedName(webhookId, tableName)
    contentDir.foreach(dir => writeContent(new Path(dir, qname), schema, rows))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(rows.map(r => toRow(r).asInstanceOf[Row]).asJava,
      schema).createOrReplaceTempView(qname)
    ReferenceTables.generations.incrementAndGet()
    val now = Instant.now()
    val row = meta.get(qname) match {
      case Some(m) => m.copy(description = description, updatedAt = now)
      case None => RefTableMeta(UUID.randomUUID().toString, webhookId,
        tableName, qname, description, now, now)
    }
    meta.put(qname, row)
    persist()
    row
  }

  /** Writes the table as one parquet file in `dir`, then deletes what
    * was there before (a crash in between leaves both, so a restart
    * would read the replaced rows too until the next upload).
    */
  private def writeContent(dir: Path, schema: StructType,
      rows: Seq[InternalRow]): Unit = {
    val written = DriverParquet.write(spark, schema, Seq(dir -> rows)).head
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dir).map(_.getPath)
      .filterNot(_.getName == written.getName)
      .foreach(fs.delete(_, true))
  }

  def forWebhook(webhookId: String): Seq[RefTableMeta] =
    meta.values.filter(_.webhookId == webhookId).toSeq.sortBy(_.tableName)

  def list(): Seq[RefTableMeta] = meta.values.toSeq.sortBy(_.qualifiedName)

  /** Whether `name` is a registered table's view (case-insensitive, as
    * the session catalog resolves it).
    */
  def isRegistered(name: String): Boolean =
    meta.keys.exists(_.equalsIgnoreCase(name))

  /** Drops the webhook's tables: views and metadata first, then each
    * table's content directory (through the Hadoop file system, so the
    * checksum files go too).
    */
  def delete(webhookId: String): Int = synchronized {
    val doomed = forWebhook(webhookId)
    doomed.foreach { m =>
      spark.catalog.dropTempView(m.qualifiedName)
      meta.remove(m.qualifiedName)
    }
    if (doomed.nonEmpty) ReferenceTables.generations.incrementAndGet()
    persist()
    contentDir.foreach { dir =>
      doomed.foreach { m =>
        val path = new Path(dir, m.qualifiedName)
        path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, true)
      }
    }
    doomed.size
  }
}

object ReferenceTables {
  private val generations = new java.util.concurrent.atomic.AtomicLong()

  /** Bumped after a table's view is replaced, dropped or rehydrated in
    * this JVM; plans that read reference-table content key on it, so an
    * upload takes effect on the next event.
    */
  def generation: Long = generations.get()
}
