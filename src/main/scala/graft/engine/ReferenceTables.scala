package graft.engine

import java.time.Instant
import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-webhook uploaded enrichment tables (reference P4,
  * src/app.py:581-671): a CSV/JSON upload becomes a queryable table named
  * `ref_<webhookId>_<name>` that transform queries join against.
  *
  * Spark-first: the parsed upload is registered as a temp view backed by
  * a cached DataFrame. Reference tables are dimension-sized by contract
  * (they arrive in one HTTP upload). An equi-join from the payload to
  * them compiles into a driver-side hash lookup built once per
  * [[ReferenceTables.generation]] (see [[PayloadTransformer]]); on the
  * Spark path, the in-memory cache makes the join a broadcast-hash join
  * with zero scan cost — on a cluster these would additionally be
  * persisted parquet for executor-local rehydration.
  */
final class ReferenceTables(spark: SparkSession,
    store: Option[JsonStore] = None, contentDir: Option[String] = None) {

  private val meta = new TrieMap[String, RefTableMeta]() // qualified → meta
  private val content = new TrieMap[String, DataFrame]() // qualified → cached

  // rehydrate persisted tables: metadata from the JSON snapshot,
  // content from the per-table parquet written at upload time
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
        val df = spark.read.parquet(path).cache()
        df.createOrReplaceTempView(m.qualifiedName)
        content.put(m.qualifiedName, df)
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

  /** CSV text upload with header + schema inference (src/app.py:1019-1020). */
  def uploadCsv(webhookId: String, tableName: String, description: String,
      csvText: String): RefTableMeta = {
    import spark.implicits._
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csvText.linesIterator.toSeq.toDS())
    upload(webhookId, tableName, description, df)
  }

  /** JSON-lines / JSON-array text upload (src/app.py:1021-1022). */
  def uploadJson(webhookId: String, tableName: String, description: String,
      jsonText: String): RefTableMeta = {
    import spark.implicits._
    val df = spark.read.json(Seq(jsonText).toDS())
    upload(webhookId, tableName, description, df)
  }

  /** CTAS semantics: DROP + CREATE from the parsed upload, metadata
    * upserted (src/app.py:621-648). Re-upload replaces content (pinned
    * tests/test_reference_and_udf.py:82-153).
    */
  def upload(webhookId: String, tableName: String, description: String,
      df: DataFrame): RefTableMeta = synchronized {
    val qname = qualifiedName(webhookId, tableName)
    // release the replaced content first: an identical re-upload would
    // otherwise share its cache entry and lose it with the old frame
    content.remove(qname).foreach(_.unpersist())
    val cached = df.cache()
    cached.count() // materialize now: upload-time errors surface at upload
    cached.createOrReplaceTempView(qname)
    content.put(qname, cached)
    ReferenceTables.generations.incrementAndGet()
    contentDir.foreach(dir => cached.write.mode("overwrite")
      .parquet(s"$dir/$qname"))
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

  def forWebhook(webhookId: String): Seq[RefTableMeta] =
    meta.values.filter(_.webhookId == webhookId).toSeq.sortBy(_.tableName)

  def list(): Seq[RefTableMeta] = meta.values.toSeq.sortBy(_.qualifiedName)

  def table(qname: String): DataFrame = spark.table(qname)

  /** Whether `name` is a registered table's view (case-insensitive, as
    * the session catalog resolves it).
    */
  def isRegistered(name: String): Boolean =
    meta.keys.exists(_.equalsIgnoreCase(name))

  def delete(webhookId: String): Int = synchronized {
    val doomed = forWebhook(webhookId)
    doomed.foreach { m =>
      spark.catalog.dropTempView(m.qualifiedName)
      content.remove(m.qualifiedName).foreach(_.unpersist())
      meta.remove(m.qualifiedName)
    }
    if (doomed.nonEmpty) ReferenceTables.generations.incrementAndGet()
    persist()
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
