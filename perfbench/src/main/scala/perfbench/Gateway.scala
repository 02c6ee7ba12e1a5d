package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_micros}

import graft.engine.{Delivery, WebhookEngine}
import graft.server.GatewayServer

/** Epoch-microsecond clock shared by the load generator and the audit
  * trail (the gateway stamps audit rows with `Instant.now()`).
  */
object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** Blocking HTTP/1.1 client for the gateway's API; safe to share
  * between load-generator threads.
  */
final class Client(port: Int, apiKey: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  import Client.Resp

  private def run(b: HttpRequest.Builder): Resp = {
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    Resp(r.statusCode(), r.body())
  }

  def postJson(path: String, json: String, auth: Boolean = false): Resp = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json))
    if (auth) b.header("X-API-Key", apiKey)
    run(b)
  }

  def postForm(path: String, fields: (String, String)*): Resp =
    run(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .header("X-API-Key", apiKey)
      .POST(HttpRequest.BodyPublishers.ofString(fields.map { case (k, v) =>
        URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8)
      }.mkString("&"))))

  def get(path: String): Resp =
    run(HttpRequest.newBuilder(URI.create(base + path))
      .header("X-API-Key", apiKey).GET())
}

object Client {
  final case class Resp(code: Int, body: String)
}

/** Records every delivered body; stands in for the destination server
  * so delivery costs nothing and every output can be checked.
  */
final class Capture {
  import Capture.Delivered
  val byRawId = new ConcurrentHashMap[String, Delivered]()
  val duplicates = new java.util.concurrent.atomic.AtomicLong
  def deliver(url: String, json: String, rawId: String): Delivery.Result = {
    if (byRawId.put(rawId, Delivered(json, Clock.nowUs())) != null)
      duplicates.incrementAndGet()
    Delivery.Result(success = true, Some(200), "ok")
  }
}

object Capture {
  final case class Delivered(body: String, atUs: Long)
}

/** One gateway instance as a client sees it: engine + HTTP server with
  * the four benchmark webhooks registered over HTTP.
  */
final class Gateway(val spark: SparkSession, val workDir: String) {
  val apiKey = "bench-key"
  val capture = new Capture
  val engine = new WebhookEngine(spark, workDir, capture.deliver)
  val server = new GatewayServer(engine, 0, apiKey).start()
  val client = new Client(server.boundPort, apiKey)
  /** hook name → webhook id, filled by [[register]]. */
  var ids = Map.empty[String, String]

  import Gateway.TrRow

  private def webhookId(resp: Client.Resp): String =
    Gen.mapper.readTree(resp.body).path("webhook").path("id").asText()

  private def registerHook(hook: String, transform: String): String = {
    val body = Gen.mapper.createObjectNode()
    body.put("source_path", Gen.path(hook))
    body.put("destination_url", s"https://example.com/$hook")
    body.put("transform_query", transform)
    Gen.filterQuery(hook).foreach(body.put("filter_query", _))
    val r = client.postJson("/register", body.toString, auth = true)
    require(r.code == 200, s"register $hook: ${r.code} ${r.body}")
    webhookId(r)
  }

  /** Registration as the reference's clients do it: the hook first, then
    * its reference table or UDF, then the final transform that uses
    * the gateway-assigned name.
    */
  def register(): Unit = {
    ids = Gen.Hooks.map(h => h -> registerHook(h, "SELECT * FROM {{payload}}"))
      .toMap
    val up = client.postForm("/upload_table", "webhook_id" -> ids("refjoin"),
      "table_name" -> "users", "description" -> "user directory",
      "file" -> Gen.usersCsv)
    require(up.code == 200, s"upload_table: ${up.code} ${up.body}")
    val refQ = Gen.mapper.readTree(up.body).path("qualified_name").asText()
    val udf = client.postForm("/register_udf", "webhook_id" -> ids("udf"),
      "function_name" -> Gen.UdfName, "function_code" -> Gen.UdfCode)
    require(udf.code == 200, s"register_udf: ${udf.code} ${udf.body}")
    val udfQ = Gen.mapper.readTree(udf.body).path("qualified_name").asText()
    Gen.Hooks.foreach(h => registerHook(h, Gen.transformQuery(h, refQ, udfQ)))
  }

  /** Historical audit trail written through the gateway's batch audit
    * appenders, one call per past day, so reads scan parquet plus the
    * live buffer. Returns (raw id, event) per row.
    */
  def preload(seed: Long, perDay: Int, days: Int): Seq[(String, Gen.Event)] = {
    import spark.implicits._
    val r = new scala.util.Random(seed ^ 0x5eedL)
    (1 to days).flatMap { d =>
      val evs = (0 until perDay).map { i =>
        Gen.event(r, Gen.Hooks(i % Gen.Hooks.size), -(d * 100000L + i))
      }
      val rows = evs.map(e => (java.util.UUID.randomUUID().toString, e))
      val ts = Clock.nowUs() - d * 86400000000L
      engine.audit.logRawBatch(rows.map { case (id, e) =>
        (id, e.path, e.payload) }.toDF("id", "source_path", "payload"), ts)
      engine.audit.logTransformedBatch(rows.map { case (id, e) =>
        (java.util.UUID.randomUUID().toString, id, ids(e.hook),
          e.expected.map(_.toString).getOrElse("{}"),
          s"https://example.com/${e.hook}", e.expected.isDefined, 200,
          if (e.expected.isDefined) "ok" else "Filtered out by filter_query")
      }.toDF("id", "raw_event_id", "webhook_id", "transformed_payload",
        "destination_url", "success", "response_code", "response_body"), ts)
      rows
    }
  }

  def close(): Unit = {
    server.stop()
    engine.close()
  }

  /** The audit rows, read back through the gateway's own audit log. */
  def rawRows(): Seq[(String, Long, String)] =
    engine.audit.rawEvents()
      .select(col("id"), unix_micros(col("timestamp")), col("payload"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getString(2)))

  def transformedRows(): Seq[TrRow] =
    engine.audit.transformedEvents()
      .select(col("raw_event_id"), unix_micros(col("timestamp")),
        col("transformed_payload"), col("success"), col("response_body"))
      .collect().toSeq.map(r => TrRow(r.getString(0), r.getLong(1),
        r.getString(2), r.getBoolean(3), r.getString(4)))

  /** Parquet files the audit trail holds on disk. */
  def parquetFiles(): Int = {
    val root = java.nio.file.Paths.get(workDir)
    val st = java.nio.file.Files.walk(root)
    try st.filter(_.toString.endsWith(".parquet")).count().toInt
    finally st.close()
  }
}

object Gateway {
  final case class TrRow(rawId: String, atUs: Long, payload: String,
      success: Boolean, body: String)

  /** The event key (the payload's unique id) of a payload text. */
  private val KeyPattern =
    """"(?:delivery_id|order_id|event_id)": "([^"]+)"""".r
  def keyOf(payload: String): Option[String] =
    KeyPattern.findFirstMatchIn(payload).map(_.group(1))
}
